package perfbench

import java.nio.file.Paths

/** Per-layer metrics of a traced pass, computed from its spans.
  *
  * Every traced run reports the full list in [[Layers.Units]], in that
  * order; a layer a workload never enters reads 0.
  */
object Layers {
  /** Metric name -> unit, in output order. */
  val Units: Seq[(String, String)] = Seq(
    "system.submit_s" -> "s", "system.run_once_s" -> "s", "system.restart_s" -> "s",
    "stream.self_s" -> "s", "stream.batches" -> "count",
    "init.process_s" -> "s", "init.recheck_s" -> "s", "init.prepare_s" -> "s",
    "init.initialize_s" -> "s", "init.initialize_self_s" -> "s", "init.publish_s" -> "s",
    "init.jobs_per_ccd" -> "jobs", "init.states_published" -> "count",
    "plane.calls" -> "count", "plane.busy_s" -> "s",
    "topics.append_control_s" -> "s", "topics.append_control_calls" -> "count",
    "topics.append_seed_s" -> "s", "topics.append_seed_calls" -> "count",
    "topics.clear_s" -> "s", "topics.control_files" -> "count", "topics.control_bytes" -> "bytes",
    "topics.seed_bytes_per_row" -> "bytes/row",
    "seed.scan_s" -> "s", "seed.encode_s" -> "s",
    "query.heavy.construct_s" -> "s", "query.heavy.construct_jobs" -> "count",
    "query.heavy.exec_s" -> "s", "query.heavy.exec_jobs" -> "count",
    "query.single.construct_s" -> "s", "query.single.construct_jobs" -> "count",
    "query.single.exec_s" -> "s", "query.single.exec_jobs" -> "count",
    "sql.analyze_s" -> "s", "sql.optimize_s" -> "s", "sql.plan_s" -> "s", "sql.actions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.core_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "query.codegen_s" -> "s", "jvm.peak_rss_mb" -> "MB",
    "trace.coverage" -> "ratio", "trace.overhead" -> "ratio")

  /** Top-level spans a measured pass is made of. */
  val PassSpans: Set[String] = Set("system.submit", "system.run_once", "client.poll_status",
    "query.heavy.construct", "query.heavy.exec", "query.single.construct", "query.single.exec",
    "query.drop_caches")

  private def complete(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    Units.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** Metrics every workload has: Catalyst, Spark totals over the pass's
    * top-level spans, codegen, and how much of the wall the spans cover. */
  private def common(tree: SpanTree, sql: SqlTotals, wall: Double, codegen: Double,
      cores: Int): Map[String, Double] = {
    val top = tree.topLevel.filter(s => PassSpans.contains(s.name))
    val t = new Tally
    top.foreach(s => t.add(tree.subtree(s)))
    Map(
      "sql.analyze_s" -> sql.analyze, "sql.optimize_s" -> sql.optimize,
      "sql.plan_s" -> sql.plan, "sql.actions" -> sql.actions.toDouble,
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.executor_run_s" -> t.runMs / 1e3, "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3, "spark.scheduler_delay_s" -> t.delayMs / 1e3,
      "spark.core_util" -> t.runMs / 1e3 / (wall * cores),
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble, "spark.input_bytes" -> t.input.toDouble,
      "query.codegen_s" -> codegen,
      "trace.coverage" -> top.map(_.seconds).sum / wall)
  }

  def cdc(rec: Recorder, sql: SqlTotals, pass: Pass, root: String, captures: Seq[Capture],
      cdc: Cdc, statesPublished: Long, seedSplit: (Double, Double), codegen: Double,
      cores: Int, extras: Map[String, Double]): Seq[(String, Double, String)] = {
    val tree = new SpanTree(rec.spans, rec.tallies)
    val processes = tree.count("init.process")
    val (controlFiles, controlBytes) = Cdc.dirStats(Paths.get(root, Cdc.ControlTopic))
    val tables = captures.distinctBy(_.table)
    val seedBytes = tables.map(c => Cdc.dirStats(Paths.get(root, c.queue))._2).sum
    val seedRows = tables.map(c => cdc.rowsOf(c.source)).sum
    complete(common(tree, sql, pass.wall, codegen, cores) ++ Map(
      "system.submit_s" -> tree.total("system.submit"),
      "system.run_once_s" -> tree.total("system.run_once"),
      "system.restart_s" -> tree.total("system.restart"),
      "stream.self_s" -> (tree.total("system.run_once") - tree.total("init.process")),
      "stream.batches" -> rec.batches.toDouble,
      "init.process_s" -> tree.total("init.process"),
      "init.recheck_s" -> tree.total("init.recheck"),
      "init.prepare_s" -> tree.total("init.prepare"),
      "init.initialize_s" -> tree.total("init.initialize"),
      "init.initialize_self_s" -> tree.selfTime("init.initialize"),
      "init.publish_s" -> tree.total("init.publish"),
      "init.jobs_per_ccd" -> tree.subtree("init.process").jobs.toDouble / math.max(1L, processes),
      "init.states_published" -> statesPublished.toDouble,
      "plane.calls" -> tree.prefixCount("plane.").toDouble,
      "plane.busy_s" -> tree.prefixTotal("plane."),
      "topics.append_control_s" -> tree.total("topics.append_control"),
      "topics.append_control_calls" -> tree.count("topics.append_control").toDouble,
      "topics.append_seed_s" -> tree.total("topics.append_seed"),
      "topics.append_seed_calls" -> tree.count("topics.append_seed").toDouble,
      "topics.clear_s" -> tree.total("topics.clear"),
      "topics.control_files" -> controlFiles.toDouble,
      "topics.control_bytes" -> controlBytes.toDouble,
      "topics.seed_bytes_per_row" -> seedBytes.toDouble / seedRows,
      "seed.scan_s" -> seedSplit._1, "seed.encode_s" -> seedSplit._2) ++ extras)
  }

  def queries(rec: Recorder, sql: SqlTotals, wall: Double, codegen: Double,
      cores: Int, extras: Map[String, Double]): Seq[(String, Double, String)] = {
    val tree = new SpanTree(rec.spans, rec.tallies)
    val halves = for {
      half <- Seq("heavy", "single")
      step <- Seq("construct", "exec")
      (suffix, v) <- Seq("_s" -> tree.total(s"query.$half.$step"),
        "_jobs" -> tree.subtree(s"query.$half.$step").jobs.toDouble)
    } yield s"query.$half.$step$suffix" -> v
    complete(common(tree, sql, wall, codegen, cores) ++ halves ++ extras)
  }
}
