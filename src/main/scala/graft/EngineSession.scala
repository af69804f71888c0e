package graft

import org.apache.spark.sql.SparkSession

/** The one engine session. Bench, Verify, the dev tools and the test suite
  * all start from this builder, so every entry point runs the same commit
  * path, file system, streaming checkpoint manager and SQL extensions; a
  * call site adds only what is its own (app name, warehouse dir, catalog
  * mounts, log level) before `getOrCreate()`.
  */
object EngineSession {

  /** `SPARK_GRAFT_CPUS`, or 4 when unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** A builder holding every engine conf: `local[cores]` with one shuffle
    * partition per core. */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // v2 file-output commit: task output renames straight to the
      // destination at task commit instead of a second serial job-commit
      // rename pass — one fewer rename per written file on EVERY write job
      // (icelite staging writes, sinks). Scale-independent: the same
      // setting is the standard choice on HDFS-like stores; object-store
      // deployments replace the committer wholesale anyway.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // fork-free local-FS permissions (see NioLocalFs scaladoc): without
      // libhadoop every local mkdirs/create forks a chmod process
      .config("spark.hadoop.fs.file.impl", "graft.icelite.NioLocalFs")
      // streaming offset/commit WALs through the FileSystem API (and thus
      // NioLocalFs above) instead of the default FileContext manager, whose
      // local AbstractFileSystem forks a chmod per created WAL file — the
      // same fork NioLocalFs removes from the data path. Rename-on-commit
      // atomicity is preserved (RenameBasedFSDataOutputStream either way).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // checksum sidecars off: they DOUBLE the file creations per epoch
      // (one .checksum per WAL file — a fixed per-epoch tax on any store)
      // to guard tiny single-fsync files whose rename-based commit already
      // fails loudly on a torn write; deployments on stores with silent
      // corruption can re-enable per session. StreamingSpec's restart /
      // exactly-once cases run under this exact configuration.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.extensions", "graft.icelite.connector.IceLiteExtensions")
}
