package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point.
  *
  *   Main --workload <backfill|daily|extract> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--trace-out <file>]
  *   Main --selftest --work <dir> --benchmark-json <file>
  *
  * Prints a human-readable report, then, as the last line, one JSON
  * object: correct, attempted, failed and the metrics (end-to-end with
  * `--trace 0`, per-layer with `--trace 1`).
  */
object Main {

  val Layers: Seq[String] = Seq("bench", "core", "functions", "engine", "table", "codec",
    "streaming", "spark", "plan")

  def perLayer: Seq[(String, String)] = {
    val ex = new Extract(tiny = false)
    (ex.selected ++ ex.capped).map(f => s"core.${f}_ns_per_sample" -> "ns") ++ Seq(
      "core.kernel_cpu_share" -> "ratio",
      "functions.token_partials_ns_per_sample" -> "ns", "functions.row_states_s" -> "s",
      "functions.interpreted_over_codegen" -> "ratio",
      "engine.merge_1m_s" -> "s", "engine.cascade_1h_s" -> "s", "engine.cascade_1d_s" -> "s",
      "engine.finalize_s" -> "s",
      "table.commits" -> "count", "table.files_written" -> "count",
      "table.bytes_written" -> "bytes", "table.live_files" -> "count",
      "table.manifest_bytes" -> "bytes", "table.write_s" -> "s", "table.done_buckets_s" -> "s",
      "table.read_range_plan_s" -> "s", "table.read_range_exec_s" -> "s",
      "table.compact_s" -> "s", "table.stored_bytes_per_point" -> "bytes",
      "codec.gorilla_encode_ns_per_value" -> "ns", "codec.gorilla_decode_ns_per_value" -> "ns",
      "codec.dod_encode_ns_per_value" -> "ns", "codec.dod_decode_ns_per_value" -> "ns",
      "codec.bytes_per_value" -> "bytes", "codec.dod_bytes_per_value" -> "bytes",
      "streaming.micro_batches" -> "count", "streaming.trigger_ms" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
      "streaming.overflow_windows" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_s" -> "s", "spark.driver_gap_s" -> "s",
      "plan.queries" -> "count", "plan.exchanges" -> "count", "plan.broadcast_bytes" -> "bytes",
      "plan.plan_s" -> "s",
      "step.live_tier_s" -> "s", "step.day_commit_s" -> "s", "step.dashboard_read_s" -> "s") ++
      Layers.map(l => s"self_s.$l" -> "s") ++
      Seq("trace.overhead_ratio" -> "ratio", "trace.ops" -> "count")
  }

  def workload(name: String, tiny: Boolean): Workload = name match {
    case "backfill" => new Backfill(tiny)
    case "daily" => new Daily(tiny)
    case "extract" => new Extract(tiny)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  final case class Outcome(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric])

  def resultJson(o: Outcome): String = Json.obj(Seq(
    "correct" -> o.correct.toString, "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "metrics" -> Json.obj(o.metrics.filter(_.gated).map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "n/a" }

  /** Run one workload in `spark`'s JVM and summarize it. */
  def measure(w: Workload, c: Ctx, seconds: Double, traceOut: Option[Path]): Outcome = {
    val setupReps = if (c.traced || c.tiny) 1 else 3
    val r = Harness.run(w, c, seconds, setupReps)
    val walls = r.samples.map(_.wall)
    val n = walls.size
    val units = perLayer.toMap
    val metrics =
      if (!c.traced) {
        if (n == 0) Nil
        else {
          // reported, not gated: a run's few operations leave no
          // percentile above the median with ten operations beyond it
          def tail(name: String, xs: Seq[Double], unit: String): Metric = {
            val (v, pct) = Stats.tail(xs)
            Metric(name, v, unit, xs.size, f"p$pct, ${xs.size * (100 - pct) / 100.0}%.1f beyond",
              gated = false)
          }
          Seq(
            Metric("setup_s", Stats.median(r.setupS), "s", r.setupS.size, "median of set-ups"),
            Metric("op_s.p50", Stats.median(walls), "s", n),
            tail("op_s.tail", walls, "s"),
            // reported, not gated: every operation of a workload processes
            // the same number of samples, so this is op_s.p50 inverted
            Metric(w.throughput, Stats.median(r.samples.map(s => s.out.samples / s.wall)), "1/s", n,
              "median over operations", gated = false),
            Metric("peak_heap_mb", r.samples.map(_.heapBytes).max / 1048576.0, "MB", n,
              "largest heap retained after an operation")) ++
            // reported, not gated: the workload's own per-operation figures
            // (daily: each step's wall, the compaction outside the clock)
            r.samples.flatMap(_.out.layer.keys).distinct.sorted.flatMap { key =>
              val xs = r.samples.flatMap(_.out.layer.get(key))
              val unit = units.getOrElse(key, "")
              val p50 = (name: String) => Metric(name, Stats.median(xs), unit, xs.size,
                "median over operations", gated = false)
              if (!key.startsWith("step.")) Seq(p50(key))
              else {
                val base = key.stripPrefix("step.")
                Seq(p50(s"$base.p50"), tail(s"$base.tail", xs, unit))
              }
            }
        }
      } else layerMetrics(r, walls, traceOut, w)
    Outcome(r.failed == 0 && metrics.nonEmpty, r.attempted, r.failed, metrics)
  }

  private def layerMetrics(r: RunResult, walls: Seq[Double], traceOut: Option[Path],
                           w: Workload): Seq[Metric] = {
    val n = r.samples.size
    def perOp(key: String, f: Sample => Option[Double]): (String, Double, Int) = {
      val xs = r.samples.flatMap(f)
      (key, if (xs.isEmpty) 0.0 else Stats.median(xs), xs.size)
    }
    val opIds = r.samples.map(_.k).toSet
    val resolved = SelfTime.resolve(r.spans).filter(s => opIds.contains(s.op))
    val selfByOp = resolved.groupBy(_.op).map { case (k, ss) => k -> SelfTime.byLayer(ss) }
    val units = perLayer.toMap
    val values: Map[String, (Double, Int)] =
      (Probe.Counters.map(k => perOp(k, s => s.spark.get(k))) ++
        Seq(perOp("spark.driver_gap_s", s => Some(s.gapS))) ++
        r.samples.flatMap(_.out.layer.keys).distinct.map(k => perOp(k, s => s.out.layer.get(k))) ++
        Layers.map(l => perOp(s"self_s.$l", s => selfByOp.get(s.k).map(_.getOrElse(l, 0.0)))))
        .map { case (k, v, m) => k -> (v, m) }.toMap ++
        r.layers.map { case (k, v) => k -> (v, 1) } ++
        Map("trace.overhead_ratio" -> (
          if (walls.isEmpty || r.untraced.isEmpty) 0.0
          else Stats.median(walls) / Stats.median(r.untraced), n + r.untraced.size),
          "trace.ops" -> (n.toDouble, n))
    // extract: the kernels' share of executor CPU, from the core probe's
    // ns/sample times each feature's sample count over the tasks' CPU time
    val kernelShare = w match {
      case e: Extract => values.get("spark.task_cpu_s").filter(_._1 > 0).map { case (cpu, m) =>
        "core.kernel_cpu_share" -> (e.kernelCpuS(values.map { case (k, v) => k -> v._1 }) / cpu, m)
      }
      case _ => None
    }
    traceOut.foreach { p =>
      Files.createDirectories(p.getParent)
      val spans = resolved.sortBy(_.start).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
      Files.write(p, Json.obj(Seq("workload" -> Json.str(w.name),
        "spans" -> spans.mkString("[", ",\n", "]"))).getBytes("UTF-8"))
      println(s"[trace] ${resolved.size} spans written to $p")
    }
    val all = values ++ kernelShare
    perLayer.map { case (name, unit) =>
      val (v, m) = all.getOrElse(name, (0.0, 0))
      Metric(name, v, units(name), m)
    }
  }

  def report(w: String, o: Outcome): Unit = {
    o.metrics.foreach { m =>
      println(f"[metric] $w%-8s ${m.name}%-42s ${Json.num(m.value)}%-22s ${m.unit}%-6s n=${m.samples}" +
        (if (m.note.nonEmpty) s" (${m.note})" else ""))
    }
    println(f"[metric] $w%-8s ops_failed_ratio ${o.failed.toDouble / math.max(o.attempted, 1)}" +
      s" (${o.failed} of ${o.attempted})")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    if (args.contains("--selftest")) {
      sys.exit(SelfTest.run(work, Paths.get(opts("benchmark-json"))))
    }
    val wname = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    Files.createDirectories(work)
    val spark = Session.build(cpus, work)
    val outcome =
      try {
        println(s"[env] nproc=$cpus jvm=${System.getProperty("java.vm.name")} " +
          s"${System.getProperty("java.version")} spark=${spark.version} " +
          s"maxHeapMB=${Runtime.getRuntime.maxMemory >> 20} loadavg=$load0")
        println("[env] session " + Session.conf(cpus, work).filterNot(_._1.contains("dir"))
          .map { case (k, v) => s"$k=$v" }.mkString(" "))
        val c = new Ctx(spark, work, seed, traced)
        measure(workload(wname, tiny = false), c, seconds,
          opts.get("trace-out").map(Paths.get(_).toAbsolutePath))
      } finally spark.stop()
    println(s"[env] loadavg after=${loadavg()}")
    report(wname, outcome)
    println(resultJson(outcome))
  }
}
