package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed benchmark op. `kind` is "query" (read-only) or "commit"
  * (a write, or one stream epoch); `ok` is false when the op threw or its
  * result disagreed with the expected one. */
final case class OpRecord(id: Long, cls: String, kind: String, startUs: Long, endUs: Long,
    ok: Boolean, resultRows: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
  /** A correctness check of the benchmark's own, not a workload op. */
  def isCheck: Boolean = cls.startsWith("check")
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, root: String, out: String, cores: Int, golden: String, mode: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", req("data"), req("root"), req("out"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("golden", ""), m.getOrElse("mode", "bench"))
  }
}

/** Everything a workload needs while it runs: the session, its inputs,
  * the benchmark-owned scratch root, the seeded RNG, and the op timer. */
final class Ctx(val args: Args, val spark: SparkSession, val rng: Random) {
  val ops = mutable.ArrayBuffer[OpRecord]()
  val errors = mutable.ArrayBuffer[String]()
  var tracer: Option[Tracer] = None
  var round = 0
  /** Per-op extra observations (files scanned, bytes written, ...). */
  val notes = mutable.ArrayBuffer[(Long, String, Double)]()
  /** Samples that are not whole ops, e.g. stream epochs: (class, kind, ms). */
  val samples = mutable.ArrayBuffer[(String, String, Double)]()
  var recording = true
  /** Per traced op: (ms covered by Spark jobs, ms in Catalyst phases). */
  var layerInputs: Map[Long, (Double, Double)] = Map()

  def dir(name: String): String = {
    val f = new File(args.root, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Runs one op: times it, tags its jobs with the op id in a traced run,
    * and records it as failed if it throws or returns false. Returns the
    * op id. */
  def op(cls: String, kind: String)(body: => (Boolean, Long)): Long = {
    val id = tracer.map(_.beginOp(cls)).getOrElse(ops.size.toLong + 1)
    val s = Clock.us()
    val (ok, rows) =
      try body
      catch { case NonFatal(e) =>
        errors += s"$cls: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        (false, -1L)
      }
    val e = Clock.us()
    tracer.foreach(_.endOp(id, s, e))
    if (!ok && errors.lastOption.forall(!_.contains(cls)))
      errors += s"$cls: wrong result (round $round)"
    if (recording) ops += OpRecord(id, cls, kind, s, e, ok, rows)
    id
  }

  /** A child span of the current op in a traced run; a plain call otherwise. */
  def span[T](layer: String, name: String)(body: => T): T =
    tracer match { case Some(t) => t.span(layer, name)(body); case None => body }

  def note(op: Long, key: String, v: Double): Unit = if (recording) notes += ((op, key, v))

  /** A child session of the run's session, traced like it. */
  def newSession(): SparkSession = {
    val s = spark.newSession()
    tracer.foreach(_.watch(s))
    s
  }
}

trait Workload {
  def name: String
  /** Builds the workload's fixtures on a fresh session; part of set-up. */
  def setup(ctx: Ctx): Unit
  /** One round of ops. */
  def round(ctx: Ctx): Unit
  /** A round's wall time on a quiet 4-core box; a run measures
    * `max(1, floor(seconds / roundSeconds))` rounds, so every run of a
    * given length does the same work whatever the seed or the speed. */
  def roundSeconds: Double
  /** End-of-run checks and metrics (storage amplification, table state). */
  def finish(ctx: Ctx): Map[String, Double] = Map()
  /** Per-layer metrics only this workload can compute from a traced run. */
  def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = Map()
}

object Main {
  /** The session configuration of `graft.Bench`, verbatim. */
  def sessionConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.fs.file.impl" -> "graft.icelite.NioLocalFs",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.extensions" -> "graft.icelite.connector.IceLiteExtensions",
  )

  def buildSession(a: Args): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", new File(a.root, "spark-local").getAbsolutePath)
    val s = sessionConfs(a.cores).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-threaded CPU loop; its time says how busy the box is. */
  def probeMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 30000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      if (acc == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }
    val xs = (1 to 5).map(_ => once()).sorted
    xs(2)
  }

  def loadAvg1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Used heap after full collections: the smallest of four readings a
    * few hundred ms apart, because Spark's ContextCleaner frees broadcast
    * and shuffle blocks asynchronously after a GC finds them unreachable. */
  def retainedHeapMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def workloadFor(name: String): Workload = name match {
    case "olap_read" => new OlapRead
    case "curation" => new Curation
    case "lakehouse_churn" => new LakehouseChurn
    case "stream_ingest" => new StreamIngest
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    if (a.mode == "golden") { Golden.write(a); return }
    val w = workloadFor(a.workload)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val tmpBefore = Option(tmp.list()).map(_.toSet).getOrElse(Set())
    val loadBefore = loadAvg1()
    val probeBefore = probeMs()

    // set-up, once and cold: JVM start (before main), session build,
    // fixture warm-up; the load probe above is not part of it
    val t0 = System.nanoTime()
    val ctx = new Ctx(a, buildSession(a), new Random(a.seed))
    val t1 = System.nanoTime()
    warmInputs(ctx)
    w.setup(ctx)
    val buildMs = (t1 - t0) / 1e6
    val warmMs = (System.nanoTime() - t1) / 1e6
    val setupS = (jvmStartMs + buildMs + warmMs) / 1000.0

    // JIT warm-up: one untimed round
    ctx.recording = false
    val tw0 = System.nanoTime()
    w.round(ctx)
    val warmRoundMs = (System.nanoTime() - tw0) / 1e6
    ctx.recording = true
    ctx.errors.clear()
    ctx.samples.clear()

    if (a.trace) { val t = new Tracer(ctx.spark); t.install(); ctx.tracer = Some(t) }
    val gc0 = gcMs()
    val m0 = System.nanoTime()
    val rounds = math.max(1, math.floor(a.seconds / w.roundSeconds).toInt)
    (1 to rounds).foreach { i =>
      ctx.round = i
      w.round(ctx)
    }
    val wallS = (System.nanoTime() - m0) / 1e9
    val gcRun = gcMs() - gc0
    ctx.tracer.foreach(_.drain())
    val extra = w.finish(ctx)
    val heapMb = retainedHeapMb()
    val tmpLeaked = Option(tmp.list()).map(_.filterNot(tmpBefore).sorted.toSeq).getOrElse(Seq())
    val probeAfter = probeMs()
    val loadAfter = loadAvg1()

    // a stream drain is measured by its epochs
    val timed = (ctx.ops.toSeq.filterNot(_.isCheck).map(o => (o.cls, o.kind, o.ms)) ++
      ctx.samples).filter(_._1 != "drain")
    val lat = timed.map(_._3)
    val failed = ctx.ops.count(!_.ok)
    val attempted = ctx.ops.size
    def lats(kind: String) = timed.filter(_._2 == kind).map(_._3)
    // the tail is p80: at least 10 samples lie beyond it in a run of the
    // configured length (78 and 81 samples), as p90 would not for olap_read
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> ((setupS, "s")),
      "op_p50_ms" -> ((pct(lat, 0.5), "ms")),
      "op_p80_ms" -> ((pct(lat, 0.8), "ms")),
      "ops_per_s" -> ((timed.size / wallS, "1/s")),
      "retained_heap_mb" -> ((heapMb, "MB")),
    )
    val detail = mutable.LinkedHashMap[String, (Double, String)]()
    for (k <- Seq("query", "commit"); xs = lats(k) if xs.nonEmpty) {
      detail(s"${k}_p50_ms") = (pct(xs, 0.5), "ms")
      detail(s"${k}_p90_ms") = (pct(xs, 0.9), "ms")
      detail(s"${k}_samples") = (xs.size.toDouble, "count")
    }
    detail("op_samples") = (lat.size.toDouble, "count")
    detail("failed_frac") = (if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio")
    extra.filter(!_._1.contains('.')).foreach { case (k, v) => detail(k) = (v, "ratio") }

    val layers = mutable.LinkedHashMap[String, Double](
      "jvm.gc_ms" -> gcRun.toDouble,
      "jvm.start_ms" -> jvmStartMs.toDouble,
      "jvm.session_build_ms" -> buildMs,
      "jvm.warmup_ms" -> warmMs,
      "box.probe_ms" -> math.max(probeBefore, probeAfter),
      "box.loadavg1" -> loadBefore,
      "storage.tmp_entries_leaked" -> tmpLeaked.size.toDouble,
    )
    layers ++= extra.filter(_._1.contains('.'))
    ctx.tracer.foreach { t =>
      layers ++= Layers.common(ctx, t)
      val spans = t.allSpans(ctx.ops.toSeq)
      layers ++= w.layerMetrics(ctx, spans)
      Layers.writeSpans(spans, a.out + ".spans.jsonl")
      layers ++= Layers.selfTimes(spans, ctx.ops.count(!_.isCheck))
    }

    val perClass = timed.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, xs) =>
      c -> ((xs.size, median(xs.map(_._3))))
    }
    val json = Json.obj(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cores" -> a.cores.toString,
      "seconds" -> Json.num(a.seconds), "measured_wall_s" -> Json.num(wallS),
      "rounds" -> rounds.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "correct" -> (failed == 0).toString,
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "detail" -> Json.obj(detail.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "per_layer" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "per_class" -> Json.obj(perClass.map { case (c, (n, m)) =>
        c -> Json.obj("n" -> n.toString, "p50_ms" -> Json.num(m)) }: _*),
      "setup" -> Json.obj("jvm_start_ms" -> Json.num(jvmStartMs.toDouble),
        "session_build_ms" -> Json.num(buildMs), "warmup_ms" -> Json.num(warmMs),
        "warm_round_ms" -> Json.num(warmRoundMs)),
      "box" -> Json.obj("probe_before_ms" -> Json.num(probeBefore),
        "probe_after_ms" -> Json.num(probeAfter),
        "loadavg1_before" -> Json.num(loadBefore), "loadavg1_after" -> Json.num(loadAfter)),
      "session_confs" -> Json.obj(sessionConfs(a.cores).map { case (k, v) => k -> Json.str(v) }: _*),
      "tmp_entries_leaked" -> Json.arr(tmpLeaked.take(20).map(Json.str)),
      "errors" -> Json.arr(ctx.errors.take(20).map(Json.str).toSeq),
    )
    java.nio.file.Files.writeString(new File(a.out).toPath, json + "\n")
    ctx.spark.stop()
  }

  /** Reads every input table once, then one tiny parquet write, as
    * `graft.Bench` warms up, so the first measured op does not pay for
    * class loading and committer set-up. */
  def warmInputs(ctx: Ctx): Unit = {
    val d = ctx.args.data
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(t => ctx.spark.read.parquet(s"$d/$t.parquet").count())
    graft.Tables.events(ctx.spark, d).count()
    ctx.spark.range(1000).toDF("i").write.mode("overwrite").parquet(ctx.dir("warm") + "/w")
  }
}

/** Minimal JSON writer for the artifact (numbers keep all their digits). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
