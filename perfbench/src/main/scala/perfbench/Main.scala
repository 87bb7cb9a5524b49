package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is the
  * result object. Launched by `perfbench/run.py`, which builds the harness
  * against the checkout's sources first. */
object Main {
  /** Per-call counts are medians over the first few traced calls, which
    * every run makes, so they repeat exactly for a seed. */
  private val CountSample = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // a crawl loop compacts every few seconds here, where a deployment
      // compacts hours apart: sweep superseded generations at the next
      // compaction, as a deployment's grace window would by then
      .config("graft.fpstore.gcGraceMs", "0")
      .config("graft.bm25.gcGraceMs", "0")
      .config("graft.ledger.gcGraceMs", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(o, spark, cores)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(o: Opts, spark: SparkSession, cores: Int): Int = {
    val ctx = new Ctx(spark, o, cores)
    val wl: Workload = o.workload match {
      case "bulk_clean"   => new BulkClean(ctx)
      case "micro_dirty"  => new MicroDirty(ctx)
      case "crawl_ingest" => new CrawlIngest(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    if (o.inputsOnly) {
      println(Json.obj(Seq("inputs_digest" -> wl.inputsDigest())).s)
      return 0
    }

    ctx.tracer.foreach(_.enabled = true)
    wl.setup()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0
    ctx.tracer.foreach(_.phase = "run")
    ctx.measuring = true
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet

    val t0 = System.nanoTime()
    var steps = 0
    val minSteps = if (o.trace) wl.minSteps else 1
    while (steps < minSteps || System.nanoTime() - t0 < o.seconds * 1000000000L) {
      wl.step()
      steps += 1
    }

    val ops = ctx.ops.toSeq
    val failed = ops.count(!_.ok)
    val leakedMb = sc.getRDDStorageInfo.filterNot(i => persistedBefore.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val rssMb = peakRssMb()
    val cycles = ops.filter(_.cycle >= 0).groupBy(_.cycle).values.toSeq
      .map(c => (c.map(_.ms).sum, c.head.traced))
    val measuredMs = ops.map(_.ms).sum

    val lines = Seq.newBuilder[String]
    lines += f"workload ${o.workload} seed ${o.seed} cores $cores steps $steps trace ${o.trace}"
    lines ++= wl.reportLines()
    lines += s"setup_s $setupS s"
    ctx.setupPhases.foreach { case (n, sec) => lines += s"setup_phase $n $sec s" }
    lines += s"rows_per_s ${1000.0 * ops.map(_.rows).sum / measuredMs} rows/s (measured ${measuredMs / 1000} s)"
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val ms = xs.map(_.ms)
      lines += s"${k}_p50_ms ${Stats.median(ms)} ms (n=${ms.size}), " +
        s"process CPU ${Stats.median(xs.map(_.cpuMs))} ms"
      if (ms.size >= 100) lines += s"${k}_p90_ms ${Stats.quantile(ms, 0.9)} ms (n=${ms.size})"
    }
    lines += s"cycle_p50_ms ${Stats.median(cycles.map(_._1))} ms (n=${cycles.size})"
    lines += s"fail_ratio ${failed.toDouble / ops.size} ($failed of ${ops.size} ops)"
    lines += s"peak_rss_mb $rssMb MB"
    lines += s"leaked_cache_mb $leakedMb MB"

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", 1000.0 * ops.map(_.rows).sum / measuredMs, "rows/s"),
        ("op_p50_ms", Stats.median(ops.filter(_.kind == wl.primaryKind).map(_.ms)), "ms"),
        ("cycle_p50_ms", Stats.median(cycles.map(_._1)), "ms"))
      else {
        val tr = ctx.tracer.get
        val costs = tr.costs()
        tr.write(java.nio.file.Paths.get(o.traceOut), costs)
        lines += s"trace ${costs.size} spans written to ${o.traceOut}"
        lines ++= callSiteLines(costs)
        val untraced = cycles.filterNot(_._2).map(_._1)
        val traced = cycles.filter(_._2).map(_._1)
        val overheadMs =
          if (untraced.isEmpty || traced.isEmpty) 0.0
          else Stats.median(traced) - Stats.median(untraced)
        lines += s"trace overhead ${overheadMs} ms per cycle " +
          s"(traced n=${traced.size}, untraced n=${untraced.size})"
        layerMetrics(costs, ops, wl) ++ Seq(
          ("jvm.leaked_cache_mb", leakedMb, "MB"),
          ("jvm.peak_rss_mb", rssMb, "MB"),
          ("trace.overhead_ms", overheadMs, "ms"),
          ("trace.overhead_pct",
            if (untraced.isEmpty) 0.0 else 100.0 * overheadMs / Stats.median(untraced), "%"))
      }
    metrics.foreach { case (k, v, u) => lines += s"$k $v $u" }
    lines.result().foreach(l => println(s"# $l"))
    println(Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }))).s)
    0
  }

  private val Layers = Seq("backend", "io", "fpstore", "minhash_store", "bm25", "ledger")

  private def layerMetrics(costs: Seq[SpanCost], ops: Seq[Op],
      wl: Workload): Seq[(String, Double, String)] = {
    val run = costs.filter(_.span.phase == "run")
    def calls(name: String) = run.filter(_.span.name == name)
    def wall(name: String) = Stats.median(calls(name).map(_.span.wallMs))
    def count(name: String)(f: SpanCost => Double) =
      Stats.median(calls(name).take(CountSample).map(f))
    val built = costs.filter(_.span.phase == "setup")
    def build(name: String) = built.filter(_.span.name == name).map(_.span.wallMs).sum

    // self time: a span's wall minus its children's, summed per layer per op
    val children = run.groupBy(_.span.parent)
    def self(c: SpanCost) = c.span.wallMs - children.getOrElse(c.span.id, Nil).map(_.span.wallMs).sum
    val byOp = run.groupBy(_.span.opId).values.toSeq
    def selfMs(layer: String) = Stats.median(byOp.flatMap { op =>
      val mine = op.filter(c => c.span.parent >= 0 && c.span.layer == layer)
      if (mine.isEmpty) None else Some(mine.map(self).sum)
    })
    val clientSelf = Stats.median(run.filter(_.span.parent < 0).map(self))

    val mb = 1e6
    val v = "backend.validate"
    val fromSpans = Seq(
      ("backend.validate_ms", wall(v), "ms"),
      ("backend.quarantine_ms", wall("backend.quarantine"), "ms"),
      ("backend.jobs", count(v)(_.jobs.toDouble), "count"),
      ("backend.stages", count(v)(_.stages.toDouble), "count"),
      ("backend.tasks", count(v)(_.tasks.toDouble), "count"),
      ("backend.driver_ms", Stats.median(calls(v).map(_.driverMs)), "ms"),
      ("backend.job_ms", Stats.median(calls(v).map(_.jobMs)), "ms"),
      ("backend.exec_cpu_ms", Stats.median(calls(v).map(_.cpuMs)), "ms"),
      ("backend.shuffle_write_mb", count(v)(_.shuffleWrite / mb), "MB"),
      ("backend.spill_mb", count(v)(_.spill / mb), "MB"),
      ("backend.scan_passes", count(v)(_.scanPasses), "ratio"),
      ("backend.quarantine_jobs", count("backend.quarantine")(_.jobs.toDouble), "count"),
      ("io.read_ms", wall("io.read"), "ms"),
      ("io.jobs", count("io.read")(_.jobs.toDouble), "count"),
      ("fpstore.scrub_ms", wall("fpstore.scrub"), "ms"),
      ("fpstore.append_ms", wall("fpstore.append"), "ms"),
      ("fpstore.compact_ms", wall("fpstore.compact"), "ms"),
      ("fpstore.build_ms", build("fpstore.build"), "ms"),
      ("minhash_store.scrub_ms", wall("minhash_store.scrub"), "ms"),
      ("minhash_store.append_ms", wall("minhash_store.append"), "ms"),
      ("minhash_store.compact_ms", wall("minhash_store.compact"), "ms"),
      ("minhash_store.build_ms", build("minhash_store.build"), "ms"),
      ("bm25.append_ms", wall("bm25.append"), "ms"),
      ("bm25.serve_ms", wall("bm25.serve"), "ms"),
      ("bm25.compact_ms", wall("bm25.compact"), "ms"),
      ("bm25.build_ms", build("bm25.build"), "ms"),
      ("ledger.increment_ms", wall("ledger.increment"), "ms"),
      ("ledger.jobs", count("ledger.increment")(_.jobs.toDouble), "count"),
      ("client.self_ms", clientSelf, "ms"),
      ("jvm.gc_ms", Stats.median(ops.map(_.gcMs.toDouble)), "ms")) ++
      Layers.map(l => (s"$l.self_ms", selfMs(l), "ms"))
    val units = Map("live_files" -> "count", "mb_written" -> "MB",
      "rewrite_ratio" -> "ratio", "bytes_per_input_byte" -> "ratio")
    val footprint = Seq("fpstore", "minhash_store", "bm25").flatMap(s =>
      Seq(s"$s.live_files", s"$s.mb_written")) ++
      Seq("store.rewrite_ratio", "store.bytes_per_input_byte")
    val measured = wl.layerMetrics()
    fromSpans ++ footprint.map(k =>
      (k, measured.getOrElse(k, 0.0), units(k.dropWhile(_ != '.').drop(1))))
  }

  /** Where each layer call's job time went, by the call site Spark reports. */
  private def callSiteLines(costs: Seq[SpanCost]): Seq[String] =
    costs.filter(c => c.span.phase == "run" && c.span.parent >= 0)
      .groupBy(_.span.name).toSeq.sortBy(_._1).flatMap { case (name, cs) =>
        val n = cs.size.toDouble
        cs.flatMap(_.callSites).groupBy(_._1).toSeq
          .map { case (site, xs) => (site, xs.map(_._2).sum / n, xs.map(_._3).sum / n) }
          .sortBy(-_._3)
          .map { case (site, jobs, ms) =>
            f"callsite $name%-22s $jobs%5.2f jobs $ms%9.1f ms/call  $site" }
      }

  private def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(status)) return 0.0
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      t0Ms = kv.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      work = need("work"),
      traceOut = kv.getOrElse("trace-out", s"${need("work")}/trace.jsonl"),
      inputsOnly = kv.get("inputs-only").contains("1"),
      plantWrong = kv.get("plant-wrong").contains("1"))
  }
}
