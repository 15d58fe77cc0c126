package perfbench

import java.nio.file.{Files, Path}

/** The per-layer metrics of a traced run, and its trace files. */
object Layers {

  /** The per-layer metrics every workload reports, with units, in report
    * order. A metric a workload does not exercise reads 0. */
  val Names: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_busy_s" -> "s", "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB", "engine.fetch_wait_s" -> "s",
    "engine.spill_mb" -> "MB", "engine.max_task_s" -> "s", "engine.occupancy" -> "ratio",
    "engine.driver_gap_s" -> "s", "engine.peak_exec_mem_mb" -> "MB", "engine.peak_rss_mb" -> "MB",
    "core.parse_us" -> "us", "core.parse_skip_us" -> "us", "core.pair_us" -> "us",
    "core.cdx_row_us" -> "us", "core.cdxj_us" -> "us", "core.decode_us" -> "us",
    "core.serialize_us" -> "us", "core.surt_us" -> "us",
    "sources.scan_s" -> "s", "sources.scan_tasks" -> "count", "sources.scan_input_mb" -> "MB",
    "sources.scan_max_task_s" -> "s", "operators.cdx_sort_s" -> "s",
    "frontier.init_s" -> "s", "frontier.wave_s" -> "s", "frontier.wave_max_s" -> "s",
    "frontier.wave_jobs" -> "count", "frontier.wave_driver_gap_s" -> "s", "frontier.wave_shuffle_mb" -> "MB",
    "frontier.ck_files" -> "count", "frontier.ck_mb_delta" -> "MB", "frontier.refill_waves" -> "count",
    "frontier.scheduled" -> "count", "frontier.deduped" -> "count",
    "bench.gen_s" -> "s", "bench.setup_cold_s" -> "s", "bench.trace_overhead_s" -> "s",
    "bench.kernel_explained" -> "ratio")

  /** Scan-side figures of a traced unit: its leaf stages, which hold the
    * WARC scan (fused with whatever the stage does next). */
  def scan(t: Tracer): Map[String, Double] = {
    val c = t.total(t.spans.find(_.name == "unit").get)
    Map("sources.scan_s" -> c.scanBusyMs / 1e3, "sources.scan_tasks" -> c.scanTasks.toDouble,
      "sources.scan_input_mb" -> c.scanInput / 1e6, "sources.scan_max_task_s" -> c.scanMaxTaskMs / 1e3)
  }

  private def engine(t: Tracer, cores: Int): Map[String, Double] = {
    val unit = t.spans.find(_.name == "unit").get
    val c = t.total(unit)
    Map("engine.jobs" -> c.jobs.toDouble, "engine.stages" -> c.stages.toDouble,
      "engine.tasks" -> c.tasks.toDouble, "engine.task_busy_s" -> c.busyMs / 1e3,
      "engine.task_cpu_s" -> c.cpuNs / 1e9, "engine.gc_s" -> c.gcMs / 1e3,
      "engine.shuffle_write_mb" -> c.shuffleWrite / 1e6, "engine.shuffle_read_mb" -> c.shuffleRead / 1e6,
      "engine.fetch_wait_s" -> c.fetchWaitMs / 1e3, "engine.spill_mb" -> c.spill / 1e6,
      "engine.max_task_s" -> c.maxTaskMs / 1e3, "engine.occupancy" -> c.busyMs / 1e3 / (unit.seconds * cores),
      "engine.driver_gap_s" -> t.driverGapSeconds(unit), "engine.peak_exec_mem_mb" -> c.peakExecMem / 1e6)
  }

  /** Per-layer metrics, each the mean over the traced units, plus the
    * kernel pass, the check's figures, the cold set-up and the tracing
    * overhead (median traced minus median untraced unit time of this
    * run). Writes the spans of every unit and the layer table under `dir`. */
  def metrics(work: Workload, cores: Int, units: Seq[(UnitResult, Tracer)], in: Path, checked: CheckResult,
              genS: Double, setupCold: Double, dir: Path): Seq[(String, Double, String)] = {
    val (traced, plain) = units.partition(_._2.listen)
    val perUnit = traced.map { case (r, t) => engine(t, cores) ++ work.layers(t, r) }
    val mean = perUnit.flatMap(_.keys).distinct.map(k => k -> perUnit.map(_.getOrElse(k, 0.0)).sum / perUnit.size).toMap
    val (kern, kernelSec) = work.kernels(in, traced.head._1)
    val tracedSeconds = Util.median(traced.map(_._1.seconds))
    val occupancy = mean("engine.occupancy")
    val values = mean ++ kern ++ checked.layers ++ Map(
      "engine.peak_rss_mb" -> Util.peakRssMb,
      "bench.gen_s" -> genS,
      "bench.setup_cold_s" -> setupCold,
      "bench.trace_overhead_s" -> (tracedSeconds - Util.median(plain.map(_._1.seconds))),
      "bench.kernel_explained" -> (if (occupancy <= 0) 0.0 else kernelSec / (cores * occupancy) / tracedSeconds))
    val out = Names.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }

    Files.createDirectories(dir)
    Util.writeLines(dir.resolve("spans.jsonl"), units.zipWithIndex.flatMap { case ((_, t), i) =>
      t.spanLines.map(l => s"""{"unit":$i,"traced":${t.listen},${l.drop(1)}""")
    })
    Util.writeLines(dir.resolve("layers.tsv"), ("metric\tvalue\tunit" +: out.map { case (k, v, u) =>
      s"$k\t${Util.jsonNumber(v)}\t$u"
    }) ++ Seq(s"# workload ${work.name}, ${traced.size} traced and ${plain.size} untraced units, " +
      s"local[$cores]"))
    out
  }
}
