package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpecBase {
  import spark.implicits._

  private def grid = (for { x <- 0 until 100; y <- 0 until 100 }
    yield (x.toLong, y.toLong, x * 100L + y)).toDF("x", "y", "id")

  test("interleave produces the Morton code") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L))
      .toDF("a", "b")
      .select(ZOrder.interleaveN(Seq(col("a"), col("b")), 4).as("z"))
      .as[Long].collect().toSeq
    // z(3,5) : a=011 odd positions, b=101 even -> 0b011011 high-interleave
    // a bits -> positions 1,3,5..; b bits -> 0,2,4..
    def morton(a: Long, b: Long): Long =
      (0 until 4).map(i => (((a >> i) & 1) << (2 * i + 1)) | (((b >> i) & 1) << (2 * i))).reduce(_ | _)
    assert(got == Seq(morton(0, 0), morton(1, 0), morton(0, 1), morton(3, 5)))
  }

  test("interleaveN generalizes: 3-dim Morton positions") {
    val got = Seq((1L, 1L, 1L), (2L, 0L, 1L))
      .toDF("a", "b", "c")
      .select(ZOrder.interleaveN(Seq(col("a"), col("b"), col("c")), 3).as("z"))
      .as[Long].collect().toSeq
    def morton3(a: Long, b: Long, c: Long): Long =
      (0 until 3).map(i => (((a >> i) & 1) << (3 * i + 2)) |
        (((b >> i) & 1) << (3 * i + 1)) | (((c >> i) & 1) << (3 * i))).reduce(_ | _)
    assert(got == Seq(morton3(1, 1, 1), morton3(2, 0, 1)))
  }

  private def filesTouched(dir: String, pred: org.apache.spark.sql.Column): (Int, Int) = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val touched = parts.count { f =>
      spark.read.parquet(f.getAbsolutePath).where(pred).limit(1).count() > 0
    }
    (touched, parts.length)
  }

  test("empty input no-ops; an all-null dimension is skipped, not the layout") {
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(ZOrder.zorderByN(empty, Seq("x", "y"), numFiles = 4).count() == 0L)
    // y unbounded -> layout proceeds on x alone (range-sorted), no NPE
    val halfNull = Seq((Some(9L), Option.empty[Long]), (Some(1L), None),
      (Some(5L), None)).toDF("x", "y")
    val out = ZOrder.zorderByN(halfNull, Seq("x", "y"), numFiles = 2)
    assert(out.columns.toSeq == Seq("x", "y"))
    assert(out.count() == 3L)
    // clustering on the surviving dimension is real: x arrives ordered
    // across the range partitions
    assert(out.select("x").collect().map(_.getLong(0)).toSeq == Seq(1L, 5L, 9L))
  }

  test("z-order layout prunes both dimensions; linear sort only one") {
    val zDir = tempDir("graft_z")
    val xDir = tempDir("graft_x")
    ZOrder.zorderByN(grid, Seq("x", "y"), numFiles = 16, bitsPer = 7)
      .write.mode("overwrite").parquet(zDir)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)

    val boxPred = col("x").between(10, 19) && col("y").between(10, 19)
    val yPred = col("y").between(10, 19)

    val (zBox, zTotal) = filesTouched(zDir, boxPred)
    val (xBox, _) = filesTouched(xDir, boxPred)
    val (zY, _) = filesTouched(zDir, yPred)
    val (xY, xTotal) = filesTouched(xDir, yPred)

    // x-sorted: the y-only predicate hits EVERY file (y scattered)
    assert(xY == xTotal, s"expected y-pred to touch all $xTotal x-sorted files, got $xY")
    // z-ordered: the same predicate skips most files
    assert(zY < zTotal / 2, s"z layout should prune y-pred: $zY of $zTotal")
    // both layouts prune the box on x; z must not be worse
    assert(zBox <= math.max(xBox, zTotal / 2), s"box: z=$zBox x=$xBox")
  }
}
