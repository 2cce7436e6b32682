package graft.sources

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.graft.SnapshotFileIndex
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.operators.Snapshots

/** Planning cost of the manifest-answered file index: its listing
  * views are computed once per index, so `allFiles` is linear in
  * files, not directories × files. Synthetic manifest with recorded
  * sizes — no file is ever touched. */
class SnapshotFileIndexSpec extends SparkSpec {

  private val dirs = 600
  private val perDir = 10

  private def index(): SnapshotFileIndex = {
    val files = for (d <- 0 until dirs; f <- 0 until perDir)
      yield s"c=$d/part-$f.parquet"
    val man = Snapshots.Manifest(files,
      StructType(Seq(StructField("v", LongType))), sizes = files.map(_ -> 100L).toMap)
    new SnapshotFileIndex(spark.asInstanceOf[ClassicSession],
      java.nio.file.Files.createTempDirectory("graft-index").toString,
      man, files, new StructType(), _ => Seq.empty)
  }

  test("listing views are computed once per index") {
    val idx = index()
    assert(idx.rootPaths eq idx.rootPaths)
    assert(idx.leafFiles eq idx.leafFiles)
    assert(idx.leafDirToChildrenFiles eq idx.leafDirToChildrenFiles)
    assert(idx.partitionSpec() eq idx.partitionSpec())
    assert(idx.rootPaths.size === dirs)
  }

  test("allFiles over 6 000 files in 600 directories stays far from quadratic") {
    val idx = index()
    val t0 = System.nanoTime()
    val all = idx.allFiles()
    val ms = (System.nanoTime() - t0) / 1e6
    assert(all.size === dirs * perDir)
    assert(all.map(_.getPath).distinct.size === dirs * perDir)
    info(f"allFiles: $ms%.0f ms")
    // linear: tens of ms; regrouping per directory took seconds
    assert(ms < 1500, f"allFiles took $ms%.0f ms")
  }
}
