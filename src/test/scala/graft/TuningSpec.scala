package graft

import org.scalatest.funsuite.AnyFunSuite

class TuningSpec extends AnyFunSuite {

  private def mkTable(root: java.nio.file.Path, name: String,
      bytes: Int): Unit = {
    val d = root.resolve(name)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("part-0"), new Array[Byte](bytes))
    // marker files must not count
    java.nio.file.Files.write(d.resolve("_SUCCESS"), new Array[Byte](999))
  }

  test("tableBytes sums top-level *.parquet only, skipping markers and stores") {
    val root = Scratch.tempDir("graft_tuning")
    mkTable(root, "lineitem.parquet", 1000)
    mkTable(root, "orders.parquet", 500)
    // derived stores and DW output under the same root are NOT inputs
    mkTable(root, "dw_sf10", 100000)
    mkTable(root, "bm25_idx", 100000)
    assert(Tuning.tableBytes(root.toString) == 1500L)
  }

  test("partition count: small data clamps to one wave of cores") {
    val root = Scratch.tempDir("graft_tuning")
    mkTable(root, "t.parquet", 1000)
    assert(Tuning.shufflePartitions(root.toString, 32) == 32)
  }

  test("partition count: rounds up to full waves as data grows") {
    val root = Scratch.tempDir("graft_tuning")
    // 100 units of target → 100 raw → 4 waves of 32 = 128
    mkTable(root, "t.parquet", 1000)
    assert(Tuning.shufflePartitions(root.toString, 32, target = 10L) == 128)
  }

  test("the staged-corpus calibration points the Scaladoc claims") {
    // 7.0 GB (the sf100 staging) → 256, the hand-tuned part-1c value;
    // 625 MB (sf10) and below → the gated 32 default
    val root = Scratch.tempDir("graft_tuning")
    val d = root.resolve("big.parquet")
    java.nio.file.Files.createDirectories(d)
    def at(bytes: Long) = {
      val raw = math.ceil(bytes.toDouble /
        Tuning.TargetParquetBytesPerPartition).toInt
      math.min(4096, math.max(1, math.ceil(raw / 32.0).toInt) * 32)
    }
    assert(at(7L * 1000 * 1000 * 1000) == 256)
    assert(at(625L * 1000 * 1000) == 32)
  }
}
