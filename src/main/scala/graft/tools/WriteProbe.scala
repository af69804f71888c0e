package graft.tools

/** Micro-probe for the per-write-job floor (guide §1.1): times N repeated
  * parquet writes of one small table on the bench-shaped session, so the
  * fixed cost every DML's staging write pays (committer setup, task
  * serialization, writer open/close, rename) can be profiled in isolation
  * with driver stack sampling. Probes BOTH the single-split shape (what a
  * single-file source stages today) and a fanned `repartition(k)` shape, so
  * the encode-parallelism-vs-exchange tradeoff is measured, not guessed.
  *
  * CLI: `sbt "runMain graft.tools.WriteProbe [reps] [sfDir] [cpus] [fan]"`
  */
object WriteProbe {
  def main(args: Array[String]): Unit = {
    // reps < 1 would make the percentile indexing below throw — clamp and
    // use the standard lower-median index (ADVICE r19)
    val reps = math.max(1, if (args.length > 0) args(0).toInt else 30)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cores = if (args.length > 2) args(2).toInt else graft.EngineSession.defaultCores
    val fan = if (args.length > 3) args(3).toInt else 8
    val spark = graft.EngineSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val o = graft.Tables.orders(spark, sfDir)
    o.count() // warm the scan
    val base = java.nio.file.Files.createTempDirectory("wprobe").toString
    def probe(label: String)(write: String => Unit): Unit = {
      val times = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        write(s"$base/$label$i")
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = times.sorted
      println(f"[wprobe] $label reps=$reps min=${sorted.head}%.3f " +
        f"med=${sorted((reps - 1) / 2)}%.3f max=${sorted.last}%.3f")
    }
    probe("plain")(p => o.write.parquet(p))
    probe(s"fan$fan")(p => o.repartition(fan).write.parquet(p))
    probe(s"hash$fan")(p => o.repartition(fan,
      org.apache.spark.sql.functions.col("o_orderkey")).write.parquet(p))
    // best-effort cleanup: the probe writes reps x 3 parquet copies of
    // orders; leaving them accumulates GBs across invocations (ADVICE r19)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    spark.stop()
  }
}
