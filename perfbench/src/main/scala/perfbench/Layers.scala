package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, as means per measured op unless the
  * name says otherwise; `<metric>_share` is the layer's time as a share of
  * summed op wall. */
object Layers {
  def common(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val ops = ctx.ops.toSeq.filterNot(_.isCheck)
    val n = math.max(1, ops.size).toDouble
    val opWallMs = ops.map(_.ms).sum
    val jobsByOp = t.jobs.values.asScala.toSeq.flatMap(j => t.opOfJob(j, ops).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val plansByOp = t.plans.asScala.toSeq.flatMap(p => t.opAt(p.startMs * 1000, ops).map(_ -> p))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def jsum(f: JobRec => Long) = jobsByOp.values.flatten.map(f).sum.toDouble
    val unionMs = ops.map { o =>
      Intervals.unionLen(jobsByOp.getOrElse(o.id, Seq()).filter(_.endMs >= 0)
        .map(j => (j.startMs * 1000, j.endMs * 1000)), o.startUs, o.endUs) / 1000.0
    }
    val catalyst = Seq("analysis", "optimization", "planning").map { ph =>
      ph -> plansByOp.values.flatten.map(_.ms(ph)).sum
    }.toMap
    val resultRows = ops.filter(_.resultRows > 0).map(_.resultRows).sum.toDouble
    val inRows = jsum(_.inRows)
    val m = Map(
      "catalyst.analysis_ms" -> catalyst("analysis") / n,
      "catalyst.optimization_ms" -> catalyst("optimization") / n,
      "catalyst.planning_ms" -> catalyst("planning") / n,
      "catalyst.plans_per_op" -> plansByOp.values.map(_.size).sum / n,
      "catalyst.share" -> catalyst.values.sum / math.max(opWallMs, 1e-9),
      "jobs.per_op" -> jobsByOp.values.map(_.size).sum / n,
      "jobs.wall_ms" -> unionMs.sum / n,
      "jobs.wall_share" -> unionMs.sum / math.max(opWallMs, 1e-9),
      "jobs.driver_gap_ms" -> (opWallMs - unionMs.sum) / n,
      "jobs.driver_gap_share" -> (opWallMs - unionMs.sum) / math.max(opWallMs, 1e-9),
      "jobs.tasks" -> jsum(_.tasks) / n,
      "jobs.task_cpu_ms" -> jsum(_.cpuNs) / 1e6 / n,
      "jobs.shuffle_read_bytes" -> jsum(_.shRead) / n,
      "jobs.shuffle_write_bytes" -> jsum(_.shWrite) / n,
      "tables.input_bytes" -> jsum(_.inBytes) / n,
      "tables.input_rows" -> inRows / n,
      "tables.rows_per_result_row" -> (if (resultRows > 0) inRows / resultRows else 0.0),
      "storage.persisted_rdds" -> ctx.spark.sparkContext.getPersistentRDDs.size.toDouble,
      "storage.cached_mb" -> ctx.spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0,
    )
    // the per-op wall split the catalyst/jobs numbers come from, for the
    // commit-side driver metric of the table workloads
    ctx.layerInputs = ops.zip(unionMs).map { case (o, u) =>
      val cat = plansByOp.getOrElse(o.id, Seq()).map(p => p.phases.map(x => (x._3 - x._2).toDouble).sum).sum
      o.id -> (u, cat)
    }.toMap
    m
  }

  /** Self time per layer (span duration minus child spans), mean per op. */
  def selfTimes(spans: Seq[Span], nOps: Int): Map[String, Double] = {
    val self = Intervals.selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      s"self.${layer}_ms" -> ss.map(s => self(s.id)).sum / 1000.0 / math.max(1, nOps)
    }
  }

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.sortBy(_.startUs).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("\n") + "\n")
  }

  /** Mean of the noted values of `key` over the ops that noted it. */
  def noteMean(ctx: Ctx, key: String): Double = {
    val xs = ctx.notes.filter(_._2 == key).map(_._3)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }
}
