package perfbench

import java.io.File

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.icelite.{Catalog, IceLite, IceLiteTable}

/** Registry queries checked against golden fingerprints. */
abstract class RegistryWorkload extends Workload {
  def queries: Seq[String]
  private var golden: Map[String, (Long, String)] = Map()

  def setup(ctx: Ctx): Unit = {
    val missing = queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    golden = Golden.load(ctx.args.golden)
  }

  /** Runs `q` on `s` as one op; a result that differs from its golden
    * fingerprint (when one exists for this data) fails the op. */
  def runQuery(ctx: Ctx, s: SparkSession, q: String): Unit =
    ctx.op(q, "query") {
      val df = ctx.span("operators", q)(graft.SparkEntry.queries(q)(s, ctx.args.data))
      val (rows, hash) = Golden.fingerprint(df)
      (golden.get(q).forall(_ == (rows, hash)), rows)
    }

  /** Mean op wall per `key(query)`, as `operators.<key>_ms`. */
  def opMeans(ctx: Ctx, key: String => String): Map[String, Double] =
    ctx.ops.toSeq.map(o => key(o.cls) -> o.ms).groupBy(_._1)
      .map { case (k, v) => s"operators.${k}_ms" -> v.map(_._2).sum / v.size }
}

/** Read-only tutorial queries, in a seed-shuffled order every round. */
final class OlapRead extends RegistryWorkload {
  val name = "olap_read"
  val roundSeconds = 8.0
  val queries = Seq(
    "pk_lookup", "pushdown_count", "filter_range_agg", "event_type_agg", "daily_count_avg",
    "monthly_revenue", "complex_agg", "cumulative_revenue", "json_bucket_agg", "order_topk",
    "distinct_agg", "rollup_agg", "pivot_agg", "percentiles", "join_revenue_by_nation",
    "join_top_customers", "join_semi_big_spenders", "pricing_summary", "window_rank",
    "window_lag", "variant_get", "sessionize", "kmv_distinct", "quantile_sketch",
    "funnel_stages", "retention_cohorts")

  private lazy val family: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.defs, "Joins" -> Joins.defs, "WindowOps" -> WindowOps.defs,
      "VariantOps" -> VariantOps.defs, "TemporalOps" -> TemporalOps.defs,
      "SketchOps" -> SketchOps.defs, "BehaviorOps" -> BehaviorOps.defs)
      .flatMap { case (f, defs) => defs.map(_.name -> f) }.toMap
  }

  def round(ctx: Ctx): Unit = ctx.rng.shuffle(queries).foreach(q => runQuery(ctx, ctx.spark, q))

  override def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] =
    opMeans(ctx, q => family.getOrElse(q, "Other"))
}

/** The LLM-data curation pipeline; every round runs in a fresh child
  * session, so the session-keyed memos are paid once per round. The order
  * is fixed so that the same query pays them every round and its
  * `operators.<query>_ms` shows the memo cost. */
final class Curation extends RegistryWorkload {
  val name = "curation"
  val roundSeconds = 10.0
  val queries = Seq("minhash_dedup", "dedup_components", "dedup_cluster_stats", "bpe_merges",
    "bpe_encode", "cosine_topk", "ann_ivf_topk", "curation_pipeline", "tfidf_topk",
    "doc_fingerprint", "token_counts")

  def round(ctx: Ctx): Unit = {
    val s = ctx.newSession()
    queries.foreach(q => runQuery(ctx, s, q))
  }

  override def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] =
    opMeans(ctx, identity)
}

/** Shared helpers for the workloads that own IceLite tables. */
object Lake {
  val Namespace = "bench"

  def mountCatalog(ctx: Ctx): String = {
    val wh = ctx.dir("warehouse")
    ctx.spark.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
    ctx.spark.conf.set("spark.sql.catalog.icelite.warehouse", wh)
    wh
  }

  def files(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists) Seq()
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .map(_.toFile).filter(_.isFile).toSeq
  }

  def bytes(dir: String): Long = files(dir).map(_.length).sum

  /** Bytes of the data files a current-snapshot read would scan. */
  def liveDataBytes(t: IceLiteTable): Long =
    t.read().inputFiles.map(p => new File(new java.net.URI(p)).length).sum

  /** End-of-run table state: files, snapshots and metadata sizes. */
  def stateMetrics(t: IceLiteTable): Map[String, Double] = {
    val m = t.meta
    val cur = m.currentSnapshot
    val metaFiles = files(t.location + "/metadata")
    val versions = metaFiles.filter(_.getName.matches("v\\d+\\.json"))
    Map(
      "storage_amp" -> bytes(t.location).toDouble / math.max(1L, liveDataBytes(t)),
      "icelite.snapshots" -> m.snapshots.size.toDouble,
      "icelite.data_files" -> cur.map(_.files.fileCount.toDouble).getOrElse(0.0),
      "icelite.delete_files" -> cur.map(_.deletes.fileCount.toDouble).getOrElse(0.0),
      "icelite.metadata_bytes" -> metaFiles.map(_.length).sum.toDouble,
      "icelite.version_file_bytes" ->
        versions.sortBy(_.getName.drop(1).dropRight(5).toInt).lastOption.map(_.length.toDouble).getOrElse(0.0),
      "icelite.manifest_chunk_files" -> (metaFiles.size - versions.size -
        metaFiles.count(_.getName == "version-hint.text")).toDouble,
    )
  }

  /** Mean time inside the named harness spans that no Spark job covers. */
  def driverOnlyMs(spans: Seq[Span], names: Set[String]): Double = {
    val jobs = spans.filter(_.layer == "jobs")
    val xs = spans.filter(s => s.layer == "icelite" && names(s.name)).map { s =>
      (s.durUs - Intervals.unionLen(jobs.filter(_.op == s.op).map(j => (j.startUs, j.endUs)),
        s.startUs, s.endUs)) / 1000.0
    }
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }

  def spanMean(spans: Seq[Span], layer: String, name: String): Double = {
    val xs = spans.filter(s => s.layer == layer && s.name == name).map(_.durUs / 1000.0)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }
}

/** One long-lived merge-on-read IceLite table seeded from `orders`, driven
  * by a seeded stream of appends, deletes, updates, merges, maintenance and
  * reads. Every read and the final state are checked against an in-memory
  * model that replays the same op stream without IceLite. */
final class LakehouseChurn extends Workload {
  val name = "lakehouse_churn"
  val roundSeconds = 7.0
  private type State = HashMap[Long, String]
  private var state: State = HashMap()
  private val history = mutable.LinkedHashMap[Long, State]()
  private var loc = ""
  private var schema: StructType = _
  private var baseKeys = 0L
  private var nextKey = 0L
  private var recent = List[Long]()
  private val pipe = new StreamPipe(100)
  private val ReadWidth = 48
  private val AppendRows = 50

  /** One cycle, in a fixed order so every run does the same shape of work
    * (the seed picks keys, ranges, rows and snapshots): 13 reads, 8 table
    * commits and 3 stream-source commits; with the drain's 3 epochs, 27
    * latency samples. Three cycles give 81, so p80 has 16 samples beyond it
    * and falls among the epochs rather than on the gap below the slowest
    * commits. */
  private val cycle = Seq(
    "read_recent", "append", "read_old", "read_sql", "stream_append", "read_recent",
    "delete_mor", "read_asof", "append", "read_old", "update_cow", "read_recent",
    "append_sql", "read_old", "stream_append", "merge", "read_asof", "stream_append",
    "read_recent", "append", "read_sql", "read_old", "maintain", "read_old")

  private def canon(r: Row): String =
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getDouble(3)}|${r.get(4)}|${r.getString(5)}"

  def setup(ctx: Ctx): Unit = {
    val wh = Lake.mountCatalog(ctx)
    val orders = ctx.spark.read.parquet(s"${ctx.args.data}/orders.parquet")
    schema = orders.schema
    val cat = new Catalog(ctx.spark, wh)
    val t = cat.createTable(Lake.Namespace, "churn",
      schema.fields.toSeq.map(f => f.name -> f.dataType.sql),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    loc = cat.tableLocation(Lake.Namespace, "churn")
    t.append(orders)
    state = HashMap(orders.collect().toSeq.map(r => r.getLong(0) -> canon(r)): _*)
    baseKeys = state.keys.max + 1
    nextKey = baseKeys
    snap(ctx)
    pipe.setup(ctx, wh)
  }

  private def table(ctx: Ctx): IceLiteTable = ctx.span("icelite", "load")(IceLite.load(ctx.spark, loc))

  /** Remembers the model state of the table's current snapshot. */
  private def snap(ctx: Ctx): Unit =
    IceLite.load(ctx.spark, loc).meta.currentSnapshotId.foreach(id => history(id) = state)

  private def freshRows(ctx: Ctx, keys: Seq[Long]): Seq[Row] = {
    val r = ctx.rng
    keys.map { k =>
      Row(k, r.nextInt(1500).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        (100000 + r.nextInt(49900000)) / 100.0,
        java.time.LocalDateTime.of(1995 + r.nextInt(7), 1 + r.nextInt(12), 1 + r.nextInt(28), 0, 0),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }
  }

  private def df(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(rows.asJava, schema)

  private def expect(st: State, lo: Long, hi: Long): Seq[String] =
    (lo to hi).flatMap(st.get).sorted

  /** Compares a range read with the model; a mismatch is described in the
    * run's errors (first differing rows on each side). */
  private def check(ctx: Ctx, what: String, got: Array[Row], st: State, lo: Long, hi: Long)
      : (Boolean, Long) = {
    val g = got.map(canon).sorted.toSeq
    val e = expect(st, lo, hi)
    if (g != e) ctx.errors += s"$what [$lo, $hi]: got ${g.size} rows, model ${e.size}; " +
      s"only got ${g.diff(e).take(3).mkString(" ; ")}; only model ${e.diff(g).take(3).mkString(" ; ")}"
    (g == e, got.length.toLong)
  }

  private def keyRange(lo: Long, hi: Long) = col("o_orderkey").between(lo, hi)

  /** Runs a commit op; once it succeeds the model moves to `next` and
    * the new snapshot is remembered with it. In a traced run, also notes the
    * bytes the commit wrote under the table per changed byte. */
  private def commit(ctx: Ctx, cls: String, changedRows: Long, next: State)(body: => Unit): Unit = {
    val before = if (ctx.tracer.isDefined) Lake.files(loc).map(_.getPath).toSet else Set[String]()
    var ok = false
    val id = ctx.op(cls, "commit") { body; ok = true; (true, 0L) }
    if (ok) state = next
    snap(ctx)
    if (ctx.tracer.isDefined && changedRows > 0) {
      val written = Lake.files(loc).filterNot(f => before(f.getPath)).map(_.length).sum
      val t = IceLite.load(ctx.spark, loc)
      val live = Lake.liveDataBytes(t).toDouble / math.max(1L, state.size)
      ctx.note(id, "out_per_changed", written / math.max(1.0, changedRows * live))
    }
  }

  /** The cycle's ops, then one stream drain of its batches. */
  def round(ctx: Ctx): Unit = {
    cycle.foreach(run(ctx, _))
    pipe.drain(ctx)
  }

  private def run(ctx: Ctx, cls: String): Unit = {
    val r = ctx.rng
    def recentLo = if (recent.isEmpty) r.nextLong(baseKeys - ReadWidth)
      else recent(r.nextInt(math.min(3, recent.size)))
    def oldLo = r.nextLong(baseKeys - ReadWidth)
    cls match {
      case "stream_append" => pipe.append(ctx)
      case "read_recent" | "read_old" =>
        val lo = if (cls == "read_recent") recentLo else oldLo
        val hi = lo + ReadWidth - 1
        var d: DataFrame = null
        val st = state
        val id = ctx.op(cls, "query") {
          val t = table(ctx)
          d = ctx.span("icelite", "read")(
            t.read(statFilters = IceLite.statFiltersFromCondition(keyRange(lo, hi))))
            .filter(keyRange(lo, hi))
          check(ctx, cls, d.collect(), st, lo, hi)
        }
        if (ctx.tracer.isDefined && d != null) ctx.note(id, "files_scanned", d.inputFiles.length)
      case "read_sql" =>
        val lo = if (r.nextBoolean()) recentLo else oldLo
        val hi = lo + ReadWidth - 1
        val st = state
        ctx.op(cls, "query") {
          val rows = ctx.span("connector", "sql_read")(ctx.spark.sql(
            s"SELECT * FROM icelite.${Lake.Namespace}.churn WHERE o_orderkey BETWEEN $lo AND $hi")
            .collect())
          check(ctx, cls, rows, st, lo, hi)
        }
      case "read_asof" =>
        val live = IceLite.load(ctx.spark, loc).meta.snapshots.map(_.id).toSet
        val ids = history.keys.filter(live).toIndexedSeq
        val sid = ids(r.nextInt(ids.size))
        val st = history(sid)
        val lo = r.nextLong(nextKey - ReadWidth)
        val hi = lo + ReadWidth - 1
        ctx.op(cls, "query") {
          val t = table(ctx)
          val d = ctx.span("icelite", "read_as_of")(t.readAsOf(sid)).filter(keyRange(lo, hi))
          check(ctx, s"$cls snapshot $sid", d.collect(), st, lo, hi)
        }
      case "append" | "append_sql" =>
        val keys = nextKey until nextKey + AppendRows
        val rows = freshRows(ctx, keys)
        val batch = df(ctx, rows)
        if (cls == "append_sql") batch.createOrReplaceTempView("churn_batch")
        commit(ctx, cls, AppendRows, state ++ rows.map(x => x.getLong(0) -> canon(x))) {
          if (cls == "append") { val t = table(ctx); ctx.span("icelite", "append")(t.append(batch)) }
          else ctx.span("connector", "sql_insert")(
            ctx.spark.sql(s"INSERT INTO icelite.${Lake.Namespace}.churn SELECT * FROM churn_batch"))
        }
        recent = (nextKey + r.nextInt(AppendRows - ReadWidth + 1)) :: recent.take(5)
        nextKey += AppendRows
      case "delete_mor" =>
        val lo = r.nextLong(nextKey - 32)
        val hits = (lo until lo + 32).count(state.contains)
        commit(ctx, cls, hits, state -- (lo until lo + 32)) {
          val t = table(ctx); ctx.span("icelite", "delete")(t.delete(keyRange(lo, lo + 31)))
        }
      case "update_cow" =>
        val lo = r.nextLong(nextKey - 16)
        val keys = (lo until lo + 16).filter(state.contains)
        val next = state ++ keys.map { k =>
          val f = state(k).split('|')
          k -> Seq(f(0), f(1), "U", (f(3).toDouble + 1.0).toString, f(4), f(5)).mkString("|")
        }
        commit(ctx, cls, keys.size, next) {
          val t = table(ctx)
          ctx.span("icelite", "update")(t.update(keyRange(lo, lo + 15),
            Map("o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + 1.0))))
        }
      case "merge" =>
        val existing = Iterator.continually(r.nextLong(nextKey)).filter(state.contains)
          .take(20).toSeq.distinct
        val fresh = nextKey until nextKey + 20
        val rows = freshRows(ctx, existing ++ fresh)
        val src = df(ctx, rows)
        commit(ctx, cls, rows.size, state ++ rows.map(x => x.getLong(0) -> canon(x))) {
          val t = table(ctx); ctx.span("icelite", "merge")(t.merge(src, "o_orderkey"))
        }
        nextKey += 20
      case "maintain" =>
        commit(ctx, cls, 0, state) {
          val t = table(ctx)
          ctx.span("icelite", "compact")(t.compact(4))
          val snaps = t.meta.snapshots.sortBy(_.timestampMs)
          if (snaps.size > 8)
            ctx.span("icelite", "expire")(t.expireSnapshots(snaps(snaps.size - 8).timestampMs))
        }
        val live = IceLite.load(ctx.spark, loc).meta.snapshots.map(_.id).toSet
        history.keys.filterNot(live).toSeq.foreach(history.remove)
    }
  }

  override def finish(ctx: Ctx): Map[String, Double] = {
    val st = state
    ctx.op("check_final_state", "query") {
      val got = IceLite.load(ctx.spark, loc).read().collect().map(canon).sorted.toSeq
      (got == st.values.toSeq.sorted, got.size.toLong)
    }
    Lake.stateMetrics(IceLite.load(ctx.spark, loc)) ++ pipe.finish(ctx)
  }

  override def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    // table commits only: a drain op is measured by its epochs
    val commits = ctx.ops.filter(o => o.kind == "commit" && o.cls != "drain")
    val driver = commits.map { o =>
      val (jobsMs, catMs) = ctx.layerInputs.getOrElse(o.id, (0.0, 0.0))
      o.ms - jobsMs - catMs
    }
    def clsMean(c: Set[String]) = {
      val xs = ctx.ops.filter(o => c(o.cls)).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Map(
      "icelite.load_ms" -> Lake.spanMean(spans, "icelite", "load"),
      "icelite.read_plan_ms" -> Lake.driverOnlyMs(spans, Set("read", "read_as_of")),
      "icelite.commit_driver_ms" -> (if (driver.isEmpty) 0.0 else driver.sum / driver.size),
      "icelite.files_scanned_per_read" -> Layers.noteMean(ctx, "files_scanned"),
      "icelite.output_bytes_per_changed_byte" -> Layers.noteMean(ctx, "out_per_changed"),
      "connector.sql_read_ms" -> clsMean(Set("read_sql")),
      "connector.api_read_ms" -> clsMean(Set("read_recent", "read_old")),
    ) ++ pipe.layerMetrics(ctx)
  }
}

/** Seeded batches committed to an IceLite source table, drained by a
  * `Trigger.AvailableNow` stream (one source snapshot per micro-batch)
  * through the DSv2 source into a DSv2 sink table, resuming from the same
  * checkpoint at every drain. Each epoch is one commit sample; the sink is
  * checked against a model (row count, key sum, cent sum) after every drain. */
final class StreamPipe(batchRows: Int) {
  private var srcLoc = ""
  private var tgtLoc = ""
  private var ckpt = ""
  private var nextKey = 0L
  private var pending = 0
  private var modelRows = 0L
  private var modelKeySum = 0L
  private var modelCents = 0L
  private var epochs = 0L
  private val schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))

  def setup(ctx: Ctx, wh: String): Unit = {
    val cat = new Catalog(ctx.spark, wh)
    val cols = schema.fields.toSeq.map(f => f.name -> f.dataType.sql)
    cat.createTable(Lake.Namespace, "stream_src", cols)
    cat.createTable(Lake.Namespace, "stream_tgt", cols, partition = Seq("o_orderstatus" -> "identity"))
    srcLoc = cat.tableLocation(Lake.Namespace, "stream_src")
    tgtLoc = cat.tableLocation(Lake.Namespace, "stream_tgt")
    ckpt = new File(ctx.dir("checkpoints"), "pipe").getAbsolutePath
  }

  /** Commits one seeded batch to the source table (one op). */
  def append(ctx: Ctx): Unit = {
    val r = ctx.rng
    val cents = Seq.fill(batchRows)(100000L + r.nextInt(49900000))
    val rows = cents.zipWithIndex.map { case (c, i) =>
      Row(nextKey + i, Seq("F", "O", "P")(r.nextInt(3)), c / 100.0)
    }
    val batch = ctx.spark.createDataFrame(rows.asJava, schema)
    ctx.op("stream_append", "commit") {
      val t = ctx.span("icelite", "load")(IceLite.load(ctx.spark, srcLoc))
      ctx.span("icelite", "append")(t.append(batch))
      (true, batchRows.toLong)
    }
    modelRows += batchRows
    modelKeySum += (nextKey until nextKey + batchRows).sum
    modelCents += cents.sum
    nextKey += batchRows
    pending += 1
  }

  /** Drains every pending source commit through the stream, then checks the sink. */
  def drain(ctx: Ctx): Unit = {
    var progress = Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val expected = pending
    val drainStart = Clock.us()
    val id = ctx.op("drain", "commit") {
      val q = ctx.spark.readStream
        .option("max-snapshots-per-trigger", "1")
        .table(s"icelite.${Lake.Namespace}.stream_src")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"icelite.${Lake.Namespace}.stream_tgt")
      q.awaitTermination()
      progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      (q.exception.isEmpty && progress.size == expected, progress.map(_.numInputRows).sum)
    }
    pending = 0
    epochs += progress.size
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trig = d.getOrElse("triggerExecution", 0L)
      if (ctx.recording) ctx.samples += (("epoch", "commit", trig.toDouble))
      Seq("addBatch", "queryPlanning", "walCommit", "latestOffset").foreach { k =>
        ctx.note(id, s"epoch.$k", d.getOrElse(k, 0L).toDouble)
      }
      ctx.tracer.foreach { t =>
        val s = math.max(drainStart, java.time.Instant.parse(p.timestamp).toEpochMilli * 1000)
        t.addSpan(id, "streaming", s"epoch ${p.batchId}", s, s + trig * 1000)
      }
    }
    val (rows, keys, cents) = (modelRows, modelKeySum, modelCents)
    ctx.op("check_sink", "query") {
      val a = IceLite.load(ctx.spark, tgtLoc).read()
        .agg(count(lit(1)), sum("o_orderkey"), sum(functions.round(col("o_totalprice") * 100).cast("long")))
        .head()
      (a.getLong(0) == rows && a.getLong(1) == keys && a.getLong(2) == cents, a.getLong(0))
    }
  }

  def finish(ctx: Ctx): Map[String, Double] = Map(
    "streaming.checkpoint_files_per_epoch" -> Lake.files(ckpt).size.toDouble / math.max(1L, epochs))

  def sinkState(ctx: Ctx): Map[String, Double] = Lake.stateMetrics(IceLite.load(ctx.spark, tgtLoc))

  def layerMetrics(ctx: Ctx): Map[String, Double] = Map(
    "streaming.add_batch_ms" -> Layers.noteMean(ctx, "epoch.addBatch"),
    "streaming.query_planning_ms" -> Layers.noteMean(ctx, "epoch.queryPlanning"),
    "streaming.wal_commit_ms" -> Layers.noteMean(ctx, "epoch.walCommit"),
    "streaming.latest_offset_ms" -> Layers.noteMean(ctx, "epoch.latestOffset"),
  )
}

/** The stream pipe alone: four source commits, then one drain, per round. */
final class StreamIngest extends Workload {
  val name = "stream_ingest"
  val roundSeconds = 2.5
  private val pipe = new StreamPipe(200)

  def setup(ctx: Ctx): Unit = pipe.setup(ctx, Lake.mountCatalog(ctx))

  def round(ctx: Ctx): Unit = {
    (1 to 4).foreach(_ => pipe.append(ctx))
    pipe.drain(ctx)
  }

  override def finish(ctx: Ctx): Map[String, Double] = pipe.finish(ctx) ++ pipe.sinkState(ctx)

  override def layerMetrics(ctx: Ctx, spans: Seq[Span]): Map[String, Double] =
    pipe.layerMetrics(ctx) + ("icelite.load_ms" -> Lake.spanMean(spans, "icelite", "load"))
}

/** Order-independent result fingerprints, and the golden file of them. */
object Golden {
  /** (row count, sum over rows of xxhash64 of the row's columns as strings). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (d.columns.isEmpty) lit(0L) else xxhash64(d.columns.map(c => col(c).cast("string")): _*)
    val r = d.select(h.cast("decimal(20,0)").as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** `name<TAB>rows<TAB>hash` per line; an absent file means no check. */
  def load(path: String): Map[String, (Long, String)] = {
    val f = new File(path)
    if (path.isEmpty || !f.isFile) Map()
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { l =>
      val Array(n, rows, h) = l.split('\t')
      n -> (rows.toLong, h)
    }.toMap
  }

  /** Runs every olap_read and curation query once and writes the golden
    * fingerprints to `--golden`. */
  def write(a: Args): Unit = {
    val spark = Main.buildSession(a)
    val lines = ((new OlapRead).queries ++ (new Curation).queries).map { q =>
      val (rows, h) = fingerprint(graft.SparkEntry.queries(q)(spark.newSession(), a.data))
      s"$q\t$rows\t$h"
    }
    java.nio.file.Files.writeString(new File(a.golden).toPath, lines.mkString("\n") + "\n")
    spark.stop()
  }
}
