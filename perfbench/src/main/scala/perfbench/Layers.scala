package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics of a traced run, from its spans (measured steps
  * only) and the Spark work attributed to them.
  *
  * Call times are seconds per call (`<call>_s`) and layer self times
  * seconds per step (`<layer>.self_s`); counts are per step (`*_per_op`)
  * or per call. A call a workload does not make reports 0, so every
  * workload reports the same metrics. */
object Layers {

  /** The calls of the `cdc_*` and `consumer_fanout` steps, by layer:
    * reported on every run. */
  val Calls: Seq[String] = Seq(
    "pipeline.land", "table.bronze_append", "table.silver_merge", "table.latest_version",
    "table.changes", "table.gold_merge",
    "table.source_merge", "table.agg_view_refresh", "llm.signature_refresh", "llm.pairs_for")

  /** Job descriptions the engine sets, up to the first space, that these
    * workloads' calls run under. */
  val Labels: Seq[String] = Seq("merge:prune", "merge:stage", "table:ingest", "table:cdf-write")

  val LayerNames: Seq[String] = Seq("bench", "pipeline", "table", "llm")

  private val ReadCalls = Set("table.snapshot_at", "table.snapshot_for_keys")

  /** Memory the run still holds at its end: cached blocks, and the heap
    * after a full collection. */
  def retained(spark: SparkSession): Seq[(String, Double, String)] = {
    val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    System.gc()
    val rt = Runtime.getRuntime
    Seq(("spark.cached_bytes_end", cached.toDouble, "bytes"),
      ("jvm.heap_after_gc_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0, "MB"))
  }

  def metrics(tr: Tracer, w: Workload): Seq[(String, Double, String)] = {
    val spans = tr.spans.filter(_.step >= 0).toVector
    val steps = spans.filter(_.name == "bench.step")
    val n = steps.size.toDouble
    def work(ids: Seq[Int]): Seq[SparkWork] = ids.flatMap(i => Option(tr.work.get(i)))
    val all = work(spans.map(_.id))
    val perStep = spans.groupBy(_.step)
    // wall time of a set of spans not covered by any of their jobs
    def gap(ss: Seq[Span]): Double =
      ss.map(_.seconds).sum - ss.map(s => Tracer.union(work(tr.subtreeIds(s.id)).flatMap(_.intervals)) / 1e3).sum
    val driverGap = steps.map(s => gap(Seq(s))).sum
    val self = tr.selfSeconds
    val out = Seq.newBuilder[(String, Double, String)]
    out += (("trace.op_p50_s", Main.median(steps.map(_.seconds)), "s"))
    out += (("spark.jobs_per_op", all.map(_.jobs).sum / n, "count"))
    out += (("spark.tasks_per_op", all.map(_.tasks).sum / n, "count"))
    out += (("spark.task_s_per_op", all.map(_.taskMs).sum / 1e3 / n, "s"))
    out += (("spark.job_wall_s_per_op", perStep.values.map(ss =>
      Tracer.union(work(ss.map(_.id)).flatMap(_.intervals)) / 1e3).sum / n, "s"))
    out += (("spark.plan_s_per_op", all.map(_.planMs).sum / 1e3 / n, "s"))
    out += (("spark.driver_gap_s_per_op", driverGap / n, "s"))
    out += (("spark.shuffle_read_bytes_per_op", all.map(_.shuffleRead).sum / n, "bytes"))
    out += (("spark.shuffle_write_bytes_per_op", all.map(_.shuffleWrite).sum / n, "bytes"))
    for (l <- LayerNames)
      out += ((s"$l.self_s", spans.filter(_.layer == l).map(s => self(s.id)).sum / n, "s"))
    // other calls (the `history_reads` mix) are reported where they are made
    val made = spans.map(_.name).distinct.filter(c => c != "bench.step" && !Calls.contains(c)).sorted
    for (c <- Calls ++ made) {
      val cs = spans.filter(_.name == c)
      val ws = work(cs.flatMap(s => tr.subtreeIds(s.id)))
      def perCall(x: Double): Double = if (cs.isEmpty) 0.0 else x / cs.size
      out += ((s"${c}_s", perCall(cs.map(_.seconds).sum), "s"))
      out += ((s"$c.jobs", perCall(ws.map(_.jobs).sum.toDouble), "count"))
      if (c == "table.silver_merge") {
        out += ((s"$c.tasks", perCall(ws.map(_.tasks).sum.toDouble), "count"))
        out += ((s"$c.driver_gap_s", perCall(gap(cs)), "s"))
        out += ((s"$c.plan_s", perCall(ws.map(_.planMs).sum / 1e3), "s"))
        out += ((s"$c.shuffle_write_bytes", perCall(ws.map(_.shuffleWrite).sum.toDouble), "bytes"))
      }
    }
    for (l <- Labels) {
      val hits = all.flatMap(_.labels.get(l))
      val name = l.replace(':', '-')
      out += ((s"spark.label.$name.jobs_per_op", hits.map(_._1).sum / n, "count"))
      out += ((s"spark.label.$name.wall_s_per_op", hits.map(_._2).sum / 1e3 / n, "s"))
    }
    val wr = w.writes
    out += (("table.rows_rewritten_per_changed_row",
      if (wr.changedRows == 0) 0.0 else wr.rowsWritten.toDouble / wr.changedRows, "ratio"))
    out += (("table.files_added_per_commit",
      if (wr.commits == 0) 0.0 else wr.filesAdded.toDouble / wr.commits, "count"))
    out += (("table.files_removed_per_commit",
      if (wr.commits == 0) 0.0 else wr.filesRemoved.toDouble / wr.commits, "count"))
    val lookups = spans.filter(s => ReadCalls(s.name))
    if (lookups.nonEmpty) {
      val lw = work(lookups.flatMap(s => tr.subtreeIds(s.id)))
      val returned = w match { case h: HistoryWorkload => h.lookupRows case _ => 0L }
      out += (("table.files_read_per_lookup", lw.map(_.scanFiles).sum.toDouble / lookups.size, "count"))
      out += (("table.rows_read_per_row_returned", lw.map(_.scanRows).sum.toDouble / math.max(1L, returned), "ratio"))
    }
    out.result()
  }
}
