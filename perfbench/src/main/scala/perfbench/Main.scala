package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}`.
  * Untraced runs print the end-to-end metrics `--spec` (BENCHMARK.json)
  * names; traced runs print its per-layer metrics and write every span to
  * `--spans`.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --spec FILE [--spans FILE]
  */
object Main {
  val Workloads: Seq[Workload] = Seq(TrainRead, IngestMaintain, DedupPipeline)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workloads.find(w => opt.get("workload").contains(w.name)).getOrElse {
      System.err.println(s"unknown workload; one of ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()

    val load0 = Host.loadavg1m()
    val calib0 = Host.calibNs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.graft.scan.blockCacheBytes", (256L << 20).toString)
      .config(w.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer.listener)
    val ctx = new Ctx(spark, seed, seconds, work, traced, tracer)
    ctx.log("session started")

    val out = w.run(ctx)
    tracer.listener.drain()
    val host = Map(
      "host.loadavg_1m" -> math.max(load0, Host.loadavg1m()),
      "host.calib_ns" -> math.max(calib0, Host.calibNs()))
    val spec = metricSpec(new File(opt("spec")), if (traced) "per_layer" else "end_to_end")
    val metrics =
      if (!traced) spec.map { case (n, u) =>
        n -> (out.metrics.getOrElse(n, sys.error(s"workload ${w.name} did not report $n")), u) }
      else {
        val m = out.metrics ++ host ++ Common.spark(ctx, out.metrics.getOrElse("wl.ops", 1.0))
        opt.get("spans").foreach(f => tracer.write(new File(f), m))
        spec.map { case (n, u) => n -> (m.getOrElse(n, 0.0), u) }
      }
    spark.stop()
    ctx.log("session stopped")
    val correct = out.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** (name, unit) of every metric in one list (`end_to_end` or `per_layer`)
    * of BENCHMARK.json. */
  def metricSpec(file: File, list: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    (0 until root.get(list).size).map { i =>
      val m = root.get(list).get(i)
      m.get("name").asText -> m.get("unit").asText
    }
  }
}

/** Layer metrics every workload reports the same way. */
object Common {
  /** Layers the spans are attributed to. (`Tablet` and `Codecs` are timed
    * call by call in [[FormatProbe]] instead.) */
  val Layers = Seq("op", "nimblesource", "lookup", "maint", "dedup", "spark")

  /** Wall-clock figures, table size, block-cache gauges, tracing overhead
    * and op count. */
  def layers(ctx: Ctx, phase: Phase, storedBytes: Long, setupWallS: Double): Map[String, Double] =
    if (!ctx.traced) Map.empty
    else phase.main.wall ++ Map(
      "wl.setup_wall_s" -> setupWallS,
      "table.stored_bytes" -> storedBytes.toDouble,
      "blockcache.capacity_bytes" -> ctx.spark.conf.get("spark.graft.scan.blockCacheBytes").toDouble,
      "blockcache.resident_bytes" -> graft.spark.BlockCache.residentBytes.toDouble,
      "trace.overhead_ratio" -> phase.overheadRatio,
      "wl.ops" -> phase.main.ops.toDouble)

  /** Spark task metrics and each layer's self time, per traced op. */
  def spark(ctx: Ctx, ops: Double): Map[String, Double] = {
    val l = ctx.tracer.listener
    val n = math.max(1.0, ops)
    val self = ctx.tracer.selfMsByLayer()
    Map(
      "spark.task_cpu_ms" -> l.tracedCpuNs / 1e6 / n,
      "spark.task_run_ms" -> l.taskRunMs / n,
      "spark.gc_ms" -> l.gcMs / n,
      "spark.shuffle_write_bytes" -> l.shuffleWriteBytes / n,
      "spark.tasks" -> l.nTasks / n) ++
      Common.Layers.map(layer => s"trace.self_ms.$layer" -> self.getOrElse(layer, 0.0) / n)
  }
}
