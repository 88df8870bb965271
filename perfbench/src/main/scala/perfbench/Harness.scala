package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run of a workload hands back: its metrics by name, the ops it
  * attempted and how many of them failed or returned a wrong answer. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long)

/** A workload: seeded inputs, a set-up, and a closed loop of one client. */
trait Workload {
  def name: String
  /** Session settings the workload needs (e.g. the block-cache size). */
  def conf: Map[String, String] = Map.empty
  def run(ctx: Ctx): Outcome
}

/** One run's environment. `seed` is for the data generators only: the
  * engine sees the tables and probes they make, never the seed. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: File, val traced: Boolean, val tracer: Tracer) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1fs] $msg")
}

/** Closed-loop bookkeeping: per op kind, each op's wall latency and CPU
  * time; attempted and failed ops; user bytes covered.
  *
  * An op's CPU time is the JVM process's CPU across the call, less the JIT
  * compiler ([[ProcessCpu]]): the client thread, Spark's task, scheduler
  * and exchange threads, the engine's own IO and footer pools and GC alike.
  * With one closed-loop client nothing else runs meanwhile. Time the host
  * steals from the VM is not in it, so it repeats across runs far better
  * than wall time on a shared machine. */
final class Samples(ctx: Ctx) {
  val lat = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val cpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var userBytes = 0.0
  private var wall0 = 0L
  var wallNs = 0L

  def start(): Unit = wall0 = System.nanoTime()
  def stop(): Unit = {
    wallNs += System.nanoTime() - wall0
    ctx.tracer.listener.drain()
  }

  def ops: Long = lat.valuesIterator.map(_.length.toLong).sum
  def cpuMs: Double = cpu.valuesIterator.flatten.sum

  /** Times `call` as one op of `kind` (the check runs after the clocks
    * stop). An exception or a failed check counts the op as failed. */
  def attempt[A](kind: String)(call: => A)(check: A => Boolean): Option[A] = {
    attempted += 1
    try {
      val c0 = ProcessCpu.snapshot()
      val t0 = System.nanoTime()
      val r = ctx.tracer.op(kind)(call)
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - t0) / 1e6
      cpu.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += ProcessCpu.since(c0) / 1e6
      if (check(r)) Some(r)
      else { failed += 1; ctx.log(s"$kind: wrong result"); None }
    } catch {
      case NonFatal(e) =>
        failed += 1
        ctx.log(s"$kind: failed: $e")
        None
    }
  }

  /** Counts a check that is not tied to one timed op (e.g. end-of-run state). */
  def verify(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; ctx.log(s"$what: wrong result") }
  }

  /** Geometric mean over op kinds of each kind's `q`-quantile, weighted by
    * the kind's share of the ops: a kind counts as much as its traffic, and
    * a rare kind's few samples add little noise. */
  private def weightedQ(by: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]], q: Double): Double = {
    val n = math.max(1, by.valuesIterator.map(_.length).sum).toDouble
    math.exp(by.values.map(v => v.length / n * math.log(math.max(Stat.quantile(v.toSeq, q), 1e-9))).sum)
  }
  def latencyQ(q: Double): Double = weightedQ(lat, q)
  def cpuQ(q: Double): Double = weightedQ(cpu, q)

  /** The end-to-end metrics every workload reports. */
  def endToEnd(setupS: Double, storedPerUser: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "op_cpu_p50_ms" -> cpuQ(0.5),
    "user_mb_per_cpu_s" -> userBytes / 1e6 / (cpuMs / 1e3),
    "stored_bytes_per_user_byte" -> storedPerUser,
    "ok_op_ratio" -> (attempted - failed).toDouble / math.max(1L, attempted))

  /** Wall-clock twins of the end-to-end figures and the CPU p90 (too few
    * samples per kind to bound), reported with the layers. */
  def wall: Map[String, Double] = Map(
    "wl.op_cpu_p90_ms" -> cpuQ(0.9),
    "wl.op_p50_ms" -> latencyQ(0.5),
    "wl.op_p90_ms" -> latencyQ(0.9),
    "wl.user_mb_s" -> userBytes / 1e6 / (wallNs / 1e9))
}

/** The timed phase. Untraced, one closed loop of `seconds`. Traced, an
  * untraced half and then a traced half: the traced half gives the
  * per-layer numbers, and the two halves give the tracing overhead. */
final case class Phase(plain: Samples, traced: Option[Samples]) {
  def all: Seq[Samples] = plain +: traced.toSeq
  def attempted: Long = all.map(_.attempted).sum
  def failed: Long = all.map(_.failed).sum
  /** The samples the reported figures come from. */
  def main: Samples = traced.getOrElse(plain)
  /** Traced over untraced median op CPU, minus one. */
  def overheadRatio: Double =
    traced.map(t => t.cpuQ(0.5) / plain.cpuQ(0.5) - 1.0).getOrElse(0.0)
}

object Phase {
  def run(ctx: Ctx)(step: (Samples, Int) => Unit): Phase = {
    def loop(secs: Double): Samples = {
      val s = new Samples(ctx)
      s.start()
      Loop.closed(secs)(i => step(s, i))
      s.stop()
      ctx.log(s"${if (ctx.tracer.on) "traced" else "untraced"} loop: " + s.lat.keys.map { k =>
        val (l, c) = (s.lat(k).toSeq, s.cpu.getOrElse(k, Nil).toSeq)
        f"$k n=${l.length} wall p50=${Stat.median(l)}%.1f p90=${Stat.quantile(l, 0.9)}%.1f" +
          f" cpu p50=${Stat.median(c)}%.1f p90=${Stat.quantile(c, 0.9)}%.1f ms"
      }.mkString(", "))
      s
    }
    if (!ctx.traced) Phase(loop(ctx.seconds), None)
    else {
      val plain = loop(ctx.seconds / 2)
      ctx.tracer.on = true
      try Phase(plain, Some(loop(ctx.seconds / 2))) finally ctx.tracer.on = false
    }
  }
}

object Loop {
  /** Runs `step(i)` for i = 0, 1, ... for `seconds`; one client, each step
    * starting when the previous one has returned. A step starts only if at
    * least half of a step as long as the last one still fits in time, and
    * the first always runs. So the number of steps is `seconds` over the
    * step time, rounded: for a workload whose step is a large share of the
    * run, it does not jump by one between runs whose steps differ a little
    * in length. */
  def closed(seconds: Double)(step: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var last = 0L
    while (i == 0 || System.nanoTime() + last / 2 <= end) {
      val t0 = System.nanoTime()
      step(i)
      last = System.nanoTime() - t0
      i += 1
    }
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 9

  /** Runs `body` [[SetupReps]] times; returns the median process CPU
    * seconds (as for an op), the median wall seconds and the last result. */
  def setup[A](ctx: Ctx)(body: Int => A): (Double, Double, A) = {
    var last: Option[A] = None
    val (cpu, wall) = (0 until SetupReps).map { r =>
      val c0 = ProcessCpu.snapshot()
      val t0 = System.nanoTime()
      last = Some(body(r))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = ProcessCpu.since(c0) / 1e9
      ctx.log(f"set-up $r: cpu $cpu%.2f s, wall $wall%.2f s")
      (cpu, wall)
    }.unzip
    (Stat.median(cpu), Stat.median(wall), last.get)
  }
}

/** CPU time of the JVM process less its JIT compiler threads, to the
  * nanosecond: every Java thread (`ThreadMXBean`) plus the VM's own GC and
  * service threads (HotSpot's internal-thread counters). The JIT compiler
  * is left out because in a JVM as young as a run it compiles throughout,
  * at two to three times the CPU of the work itself, and that varies from
  * run to run. The OS process figure cannot leave it out and comes in
  * 10 ms ticks, coarser than a fast op. A thread that ends between two
  * snapshots loses its CPU since the first. */
object ProcessCpu {
  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val internal = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  final class Snapshot(val java: Map[Long, Long], val vm: Map[String, Long])

  def snapshot(): Snapshot = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    val vm = mutable.HashMap[String, Long]()
    internal.getInternalThreadCpuTimes.forEach((k, v) => if (!k.contains("CompilerThread")) vm(k) = v.longValue)
    new Snapshot(ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap, vm.toMap)
  }

  /** CPU ns the process spent since `s0`. A thread new since then counts
    * from zero; a VM thread whose counter went back was restarted. */
  def since(s0: Snapshot): Long = {
    val s1 = snapshot()
    def delta[K](a: Map[K, Long], b: Map[K, Long]): Long = b.iterator.map { case (k, v) =>
      val d = v - a.getOrElse(k, 0L)
      if (d >= 0) d else v
    }.sum
    delta(s0.java, s1.java) + delta(s0.vm, s1.vm)
  }
}

object Stat {
  /** Linear-interpolated quantile (numpy's default), 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The load bracket: host load and a fixed single-thread loop, recorded
  * before and after a workload. Reported only; no sample is dropped or
  * scaled by them. */
object Host {
  def loadavg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  /** Median ns of five runs of a fixed integer loop (~2M steps). */
  def calibNs(): Double = Stat.median((0 until 5).map { _ =>
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ns = (System.nanoTime() - t0).toDouble
    if (x == 42L) System.err.print("") // keeps the loop live
    ns
  })
}

object Disk {
  /** Bytes of every regular file under `dir`: what the table costs on disk. */
  def bytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytes(c.getPath)).sum).getOrElse(0L)
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
