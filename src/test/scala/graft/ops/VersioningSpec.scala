package graft.ops

import graft.SparkSpecBase

class VersioningSpec extends SparkSpecBase {
  import spark.implicits._

  private def vOld = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
  private def vNew = Seq((2L, "b"), (3L, "x"), (4L, "d")).toDF("doc_id", "text")

  test("snapshotDiff classifies added/removed/modified, drops unchanged") {
    val got = Versioning.snapshotDiff(vOld, vNew, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "removed"), (3L, "modified"), (4L, "added")))
  }

  test("identical snapshots diff to nothing; summary reports zeros + sizes") {
    assert(Versioning.snapshotDiff(vOld, vOld, "doc_id", "text").count() == 0L)
    val s = Versioning.diffSummary(vOld, vNew, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(s == ((1L, 1L, 1L, 3L, 3L)))
    val z = Versioning.diffSummary(vOld, vOld, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(z == ((0L, 0L, 0L, 3L, 3L)))
  }

  test("null text is a value: null -> text and text -> null are modifications") {
    val a = Seq((1L, null.asInstanceOf[String]), (2L, "x")).toDF("doc_id", "text")
    val b = Seq((1L, "y"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Versioning.snapshotDiff(a, b, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "modified"), (2L, "modified")))
    // null == null: unchanged
    assert(Versioning.snapshotDiff(a, a, "doc_id", "text").count() == 0L)
  }

  // ---- atomic publish / time travel / rollback -----------------------------

  test("publish is versioned and atomic; reads resolve the pointer; time " +
      "travel reads any retained version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub").toString
    assert(Versioning.currentVersion(spark, s"$dir/ds").isEmpty)
    intercept[IllegalArgumentException] {
      Versioning.read(spark, s"$dir/ds")
    }
    assert(Versioning.publish(vOld, s"$dir/ds") == 1L)
    assert(Versioning.publish(vNew, s"$dir/ds") == 2L)
    assert(Versioning.currentVersion(spark, s"$dir/ds").contains(2L))
    assert(Versioning.listVersions(spark, s"$dir/ds") == Seq(1L, 2L))
    val cur = Versioning.read(spark, s"$dir/ds")
      .as[(Long, String)].collect().toSet
    assert(cur == Set((2L, "b"), (3L, "x"), (4L, "d")))
    val v1 = Versioning.read(spark, s"$dir/ds", Some(1L))
      .as[(Long, String)].collect().toSet
    assert(v1 == Set((1L, "a"), (2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      Versioning.read(spark, s"$dir/ds", Some(9L))
    }
  }

  test("a crashed publish is invisible to readers and re-owned by the next " +
      "publish; rollback swaps the pointer and the next publish re-owns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub2").toString
    Versioning.publish(vOld, s"$dir/ds")
    // crash state: v=2 fully written but the pointer swap never ran —
    // reconstructed by writing the orphan tree directly
    vNew.write.parquet(s"$dir/ds/v=2")
    assert(Versioning.currentVersion(spark, s"$dir/ds").contains(1L))
    assert(Versioning.read(spark, s"$dir/ds")
      .as[(Long, String)].collect().toSet.contains((1L, "a")),
      "readers must stay on the pointed version")
    // the next publish computes from the POINTER, re-owning the orphan
    val fixed = Seq((7L, "z")).toDF("doc_id", "text")
    assert(Versioning.publish(fixed, s"$dir/ds") == 2L)
    assert(Versioning.read(spark, s"$dir/ds")
      .as[(Long, String)].collect().toSet == Set((7L, "z")))
    // rollback: pointer swap only; the disavowed version stays on disk
    Versioning.rollback(spark, s"$dir/ds", 1L)
    assert(Versioning.currentVersion(spark, s"$dir/ds").contains(1L))
    assert(Versioning.listVersions(spark, s"$dir/ds") == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      Versioning.rollback(spark, s"$dir/ds", 5L)
    }
    // publishing after a rollback reuses the disavowed number
    assert(Versioning.publish(vNew, s"$dir/ds") == 2L)
    assert(Versioning.read(spark, s"$dir/ds")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "x"), (4L, "d")))
  }

  test("vacuum drops disavowed versions first, then all but the newest " +
      "keep legitimate ones — never the pointed-at one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub3").toString
    (1 to 4).foreach(_ => Versioning.publish(vOld, s"$dir/ds"))
    assert(Versioning.vacuum(spark, s"$dir/ds", keep = 2) == Seq(1L, 2L))
    assert(Versioning.listVersions(spark, s"$dir/ds") == Seq(3L, 4L))
    // time travel reaches exactly what retention kept
    intercept[IllegalArgumentException] {
      Versioning.read(spark, s"$dir/ds", Some(1L))
    }
    assert(Versioning.read(spark, s"$dir/ds", Some(3L)).count() == 3L)
    // rollback disavows v4: vacuum buries it even though it is the
    // "newest" — an incident must not leave its bad data reachable —
    // while the pointed-at v3 survives any keep
    Versioning.rollback(spark, s"$dir/ds", 3L)
    assert(Versioning.vacuum(spark, s"$dir/ds", keep = 1) == Seq(4L))
    assert(Versioning.listVersions(spark, s"$dir/ds") == Seq(3L))
    assert(Versioning.read(spark, s"$dir/ds").count() == 3L)
    intercept[IllegalArgumentException] {
      Versioning.read(spark, s"$dir/ds", Some(4L))
    }
  }

  test("vacuum sweeps orphaned publisher stages: a dead publisher's " +
      ".stage_v_* dir (and a crashed commit's .tomb) is reclaimed, the " +
      "live tree and pointer untouched — the compaction catch-all, " +
      "mirrored") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub5").toString
    val ds = s"$dir/ds"
    (1 to 3).foreach(_ => Versioning.publish(vOld, ds))
    val fs = new org.apache.hadoop.fs.Path(ds)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a publisher that died mid-stage: its hidden stage dir has a
    // version number (4) no later publish landed, so publish's own
    // prefix purge (.stage_v_4_) never runs — only vacuum reclaims it.
    // Plus the crash-inside-commitStaged shape: an orphaned .tomb.
    val orphanStage = new org.apache.hadoop.fs.Path(
      s"$ds/.stage_v_4_deadbeef")
    val orphanTomb = new org.apache.hadoop.fs.Path(
      s"$ds/.stage_v_4_deadbeef.tomb")
    fs.mkdirs(orphanStage)
    fs.mkdirs(orphanTomb)
    assert(Versioning.vacuum(spark, ds, keep = 2) == Seq(1L))
    assert(!fs.exists(orphanStage),
      "vacuum must sweep a dead publisher's orphaned stage")
    assert(!fs.exists(orphanTomb),
      "vacuum must sweep a crashed commit's orphaned tombstone")
    assert(Versioning.listVersions(spark, ds) == Seq(2L, 3L))
    assert(Versioning.currentVersion(spark, ds).contains(3L))
    assert(Versioning.read(spark, ds).count() == 3L,
      "the sweep must not touch the live tree")
  }

  test("every dataset mutation is single-writer: a held lock fails " +
      "publish, rollback AND vacuum loudly (with the holder line); " +
      "breakLock recovers a crashed holder") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub4").toString
    Versioning.publish(vOld, s"$dir/ds")
    Versioning.publish(vNew, s"$dir/ds")
    // crash state: the holder died mid-mutation — reconstructed by
    // planting its lock file (stamped, as a real acquisition would be)
    val lock = java.nio.file.Paths.get(s"$dir/ds/_publish_lock")
    java.nio.file.Files.write(lock,
      FsLock.holderStamp("publish").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    val errs = Seq(
      intercept[IllegalStateException] {
        Versioning.publish(vNew, s"$dir/ds")
      },
      intercept[IllegalStateException] {
        Versioning.rollback(spark, s"$dir/ds", 1L)
      },
      intercept[IllegalStateException] {
        Versioning.vacuum(spark, s"$dir/ds", keep = 1)
      })
    errs.foreach { e =>
      assert(e.getMessage.contains("another mutator holds"))
      assert(e.getMessage.contains("op=publish") &&
        e.getMessage.contains("pid="), s"holder line missing: ${e.getMessage}")
    }
    assert(Versioning.currentVersion(spark, s"$dir/ds").contains(2L),
      "a refused mutation must leave the pointer untouched")
    assert(Versioning.listVersions(spark, s"$dir/ds") == Seq(1L, 2L),
      "a refused vacuum must delete nothing")
    Versioning.breakLock(spark, s"$dir/ds")
    assert(Versioning.publish(vNew, s"$dir/ds") == 3L)
    // the lock does not outlive a successful mutation — any of them
    assert(!java.nio.file.Files.exists(lock))
    Versioning.rollback(spark, s"$dir/ds", 2L)
    assert(!java.nio.file.Files.exists(lock))
    assert(Versioning.vacuum(spark, s"$dir/ds", keep = 2) == Seq(3L))
    assert(!java.nio.file.Files.exists(lock))
    // released on FAILURE too: a refused rollback (absent version)
    // throws inside the lock but must not leave it held
    intercept[IllegalArgumentException] {
      Versioning.rollback(spark, s"$dir/ds", 99L)
    }
    assert(!java.nio.file.Files.exists(lock),
      "a failed mutation must release the lock")
  }

  test("a crash-orphaned dataset lock (dead pid, this host) self-heals: " +
      "the next mutation reclaims it unaided — same FsLock discipline " +
      "as the index writer lock") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub5").toString
    Versioning.publish(vOld, s"$dir/ds")
    val lock = java.nio.file.Paths.get(s"$dir/ds/_publish_lock")
    java.nio.file.Files.write(lock,
      LockTestSupport.plantedStamp("publish", LockTestSupport.deadPid)
        .getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // no breakLock: publish itself proves the holder dead and reclaims
    assert(Versioning.publish(vNew, s"$dir/ds") == 2L)
    assert(!java.nio.file.Files.exists(lock))
    assert(Versioning.currentVersion(spark, s"$dir/ds").contains(2L))
  }

  test("publish refuses object-store schemes whose create/rename are not " +
      "atomic; HDFS and local pass the guard") {
    // a stub FS is enough: the guard keys off the scheme alone (the
    // actual connector jars are deliberately not on this classpath)
    def stub(scheme: String): org.apache.hadoop.fs.FileSystem =
      new org.apache.hadoop.fs.RawLocalFileSystem {
        override def getUri: java.net.URI =
          java.net.URI.create(s"$scheme://bucket")
      }
    for (s <- Seq("s3a", "s3", "gs", "abfss", "wasb", "oss")) {
      val e = intercept[IllegalArgumentException] {
        FsLock.requireAtomicFs(stub(s), s"$s://bucket/ds", "publish")
      }
      assert(e.getMessage.contains("no atomic rename"), s"scheme $s")
    }
    FsLock.requireAtomicFs(stub("hdfs"), "hdfs://nn/ds", "publish")
    FsLock.requireAtomicFs(stub("file"), "/tmp/ds", "publish")
  }
}
