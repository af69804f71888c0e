package graft

import org.apache.hadoop.fs.FileSystem

/** The test session is the engine session: the suite runs the file system
  * and committer Bench and Verify run, and drifting apart fails here. */
class EngineSessionSpec extends SparkSpec {

  test("test session resolves file:// to NioLocalFs and commits with algorithm 2") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", hc) == classOf[graft.icelite.NioLocalFs])
    assert(hc.get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
  }
}
