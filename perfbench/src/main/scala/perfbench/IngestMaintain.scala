package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.format.{Lookup, Tablet}
import graft.ops.{Compaction, Delete, Merge}

/** `ingest_maintain`: seeded batches appended to a sorted, indexed table,
  * with retention, updates, upserts and small-file compaction in between,
  * and keyed reads of what was just written.
  *
  * One cycle of the closed loop appends a 2000-row batch and then runs
  * `Delete.delete` (retention: rows older than the last six batches),
  * `Delete.update` (a constant assignment for one user), `Merge.upsert`
  * (corrections to the newest batch plus late rows) and
  * `Compaction.compactSmall`, then serves probes: five each of
  * `graft.format.Lookup` point (hash index on `user_id`), range (on the sort
  * column `ts`) and composite (`category+ts` index) lookups, and one Spark-path
  * `filter(user_id === u)` that reads through the block cache (the table
  * fits in it). Each call is one timed op. The benchmark keeps its own
  * model of the live rows: every Report and every probe answer is checked
  * against it, and after the loop `Compaction.compact` must produce exactly
  * the model's rows.
  */
object IngestMaintain extends Workload {
  val name = "ingest_maintain"

  private val Batch = 2000
  private val Retain = 6
  private val MergeMatched = 50
  private val MergeInserted = 50
  /** Lookup probes are ~100x cheaper than the writes; a cycle runs several
    * of each so their medians rest on more than a couple of samples. */
  private val LookupsPerCycle = 5
  val WriteOptions = Map("sortColumns" -> "ts", "indexColumns" -> "user_id,category+ts",
    "bloomFilterColumns" -> "category", "flatMapColumns" -> "fm")

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("category", StringType),
    StructField("amount", DecimalType(12, 2)),
    StructField("score", DoubleType),
    StructField("note", StringType),
    StructField("fm", MapType(StringType, FloatType))))

  /** Row `i` of the event stream; `ts` grows with `i`. */
  final class Gen(seed: Long) {
    private def h(c: Int, i: Long): Long = WideGen.mix(seed * 0x9E3779B97F4A7C15L + c * 0xBF58476D1CE4E5B9L + i)
    private def m(c: Int, i: Long, n: Long): Long = java.lang.Math.floorMod(h(c, i), n)
    def ts(i: Long): Long = 1700000000000L + i * 10 + m(0, i, 10)
    def row(i: Long): Row = Row(i, ts(i), m(1, i, 500), s"c${m(2, i, 40)}",
      java.math.BigDecimal.valueOf(m(3, i, 1000000L), 2), m(4, i, 1000000L) / 1000.0,
      s"note ${m(5, i, 100000)} from ${m(6, i, 300)}",
      (0 until 4).map(g => s"k${g * 8 + m(7 + g, i, 8)}" -> (m(20 + g, i, 10000) / 100.0f)).toMap)
  }

  private def key(r: Row): Long = r.getLong(0)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new Gen(ctx.seed)
    val rnd = new scala.util.Random(ctx.seed ^ 0x1E57L)
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
    def append(dir: String, rows: Seq[Row]): Unit =
      frame(rows).write.format("nimble").mode("append").options(WriteOptions).save(dir)
    val checks = new Samples(ctx)

    // warm-up on a scratch table: one write and each maintenance op once
    val warmDir = ctx.dir("ingest_warm")
    append(warmDir, (0L until 500L).map(gen.row))
    append(warmDir, (500L until 1000L).map(gen.row))
    Delete.delete(spark, warmDir, col("ts") < gen.ts(100))
    Delete.update(spark, warmDir, col("user_id") === 1L, Map("score" -> lit(0.0)))
    Merge.upsert(spark, warmDir, frame((900L until 1000L).map(gen.row)), Seq("id"))
    Compaction.compactSmall(spark, warmDir, 256L << 10, 4L << 20)
    Lookup.pointLookup(warmDir, "user_id", 1L)
    Lookup.rangeLookup(warmDir, "ts", gen.ts(500), gen.ts(600))
    Lookup.compositeLookup(warmDir, Seq("category", "ts"), Seq("c1"), Some((gen.ts(500), gen.ts(900))))
    spark.read.format("nimble").load(warmDir).filter(col("user_id") === 1L).collect()
    Disk.delete(warmDir)

    val initial = (0L until Retain.toLong * Batch).map(gen.row)
    val (setupS, setupWall, dir) = Loop.setup(ctx) { r =>
      val d = ctx.dir(s"ingest_$r")
      append(d, initial)
      spark.read.format("nimble").load(d).schema
      d
    }
    (0 until Loop.SetupReps - 1).foreach(r => Disk.delete(ctx.dir(s"ingest_$r")))
    ctx.log(f"set-up $setupS%.2f s")

    val live = mutable.LinkedHashMap[Long, Row]()
    initial.foreach(r => live(key(r)) = r)
    var nextId = initial.length.toLong
    var cycle = 0
    var batchStart = List[Long]() // first id of each appended batch, newest first
    var appendedBytes = 0.0
    var rewrittenBytes = 0L
    var filesRewritten = 0L
    var maintOps = 0L
    (0 until Retain).reverse.foreach(b => batchStart ::= b.toLong * Batch)
    batchStart = batchStart.reverse

    def files(): Map[String, Long] = graft.format.GraftIO.listGft(dir).map(f => f.path -> f.length).toMap
    /** Runs a maintenance op and counts the bytes of the files it wrote. */
    def maint[A](body: => A): A = {
      val before = files()
      val r = body
      rewrittenBytes += files().collect { case (p, n) if !before.contains(p) => n }.sum
      maintOps += 1
      r
    }
    def tsRange(f: String): Option[(Long, Long)] = {
      val rd = new Tablet.Reader(f)
      try rd.fileStatsOf("ts").filter(_.hasMinMax).map(s => (s.minLong, s.maxLong)) finally rd.close()
    }

    val nimble = spark.read.format("nimble").load(dir)
    val lookups = new LookupTotals
    val scans = new ScanTotals
    val atomic = schema.fieldNames.filter(_ != "fm").toSeq
    /** Lookup answers carry the atomic columns as stored values (a decimal
      * as its unscaled long); compare them with the model's as strings. */
    def sameRows(got: Seq[Map[String, Any]], want: Iterable[Row]): Boolean = {
      def stored(v: Any): Any = v match {
        case d: java.math.BigDecimal => d.unscaledValue.longValue
        case other => other
      }
      def key(vs: Seq[Any]): String = vs.map(v => String.valueOf(stored(v))).mkString("\u0001")
      got.map(m => key(atomic.map(m))).sorted ==
        want.map(r => key(atomic.map(c => r.get(schema.fieldIndex(c))))).toSeq.sorted
    }
    def recentTs(): Long = gen.ts(batchStart.head + rnd.nextInt(Batch))

    /** One cycle: an append, four maintenance calls, then `LookupsPerCycle`
      * rounds of the three `Lookup` probes and one Spark-path probe. */
    def runCycle(s: Samples): Unit = ((0 to 4) ++ Seq.fill(LookupsPerCycle)(5 to 7).flatten :+ 8).foreach {
      case 0 =>
        val rows = (nextId until nextId + Batch).map(gen.row)
        s.attempt("append")(ctx.tracer.span("nimblesource", "append")(append(dir, rows))) { _ =>
          rows.foreach(r => live(key(r)) = r)
          batchStart = nextId :: batchStart
          nextId += Batch
          val b = rows.map(Logical.row(_, schema)).sum.toDouble
          s.userBytes += b
          appendedBytes += b
          true
        }
      case 1 =>
        // retention: drop every row older than the first of the last Retain batches
        val wm = gen.ts(batchStart(math.min(Retain - 1, batchStart.length - 1)))
        val straddling = files().keys.count(f => tsRange(f).forall { case (lo, hi) => lo < wm && hi >= wm })
        val gone = live.valuesIterator.count(_.getLong(1) < wm)
        s.attempt("delete")(maint(ctx.tracer.span("maint", "delete")(Delete.delete(spark, dir, col("ts") < wm)))) { rep =>
          live.filterInPlace((_, r) => r.getLong(1) >= wm)
          filesRewritten += rep.filesRewritten
          rep.rowsDeleted == gone && rep.rowsRemaining == live.size && rep.filesRewritten <= straddling
        }
      case 2 =>
        val u = rnd.nextInt(500).toLong
        val score = -1.0 - cycle
        val hit = live.valuesIterator.count(_.getLong(2) == u)
        s.attempt("update")(maint(ctx.tracer.span("maint", "update")(
          Delete.update(spark, dir, col("user_id") === u, Map("score" -> lit(score)))))) { rep =>
          live.mapValuesInPlace((_, r) =>
            if (r.getLong(2) == u) Row.fromSeq(r.toSeq.updated(5, score)) else r)
          filesRewritten += rep.filesRewritten
          rep.rowsRemaining == live.size && (hit > 0 || rep.filesRewritten == 0)
        }
      case 3 =>
        // corrections to rows of the newest batch, plus late rows in its time range
        val newest = batchStart.head
        val matched = rnd.shuffle((newest until newest + Batch).filter(live.contains)).take(MergeMatched)
          .map(i => Row.fromSeq(live(i).toSeq.updated(4, java.math.BigDecimal.valueOf(cycle.toLong, 2))))
        val inserted = (nextId until nextId + MergeInserted).map { i =>
          val r = gen.row(i)
          Row.fromSeq(r.toSeq.updated(1, gen.ts(newest + (i - nextId))))
        }
        s.attempt("merge")(maint(ctx.tracer.span("maint", "merge")(
          Merge.upsert(spark, dir, frame(matched ++ inserted), Seq("id"))))) { rep =>
          (matched ++ inserted).foreach(r => live(key(r)) = r)
          nextId += MergeInserted
          filesRewritten += rep.filesRewritten
          rep.rowsMatched == matched.length && rep.rowsInserted == inserted.length
        }
      case 4 =>
        s.attempt("compact_small")(maint(ctx.tracer.span("maint", "compact_small")(
          Compaction.compactSmall(spark, dir, 1L << 20, 4L << 20)))) { rep =>
          filesRewritten += rep.filesBefore - rep.filesAfter
          cycle += 1
          rep.rows == live.size && rep.filesAfter <= rep.filesBefore
        }
      case 5 =>
        val u = rnd.nextInt(500).toLong
        s.attempt("lookup_point")(lookups.add(ctx.tracer.span("lookup", "point")(
          Lookup.pointLookupMetered(dir, "user_id", u))))(sameRows(_, live.values.filter(_.getLong(2) == u)))
      case 6 =>
        val lo = recentTs()
        s.attempt("lookup_range")(lookups.add(ctx.tracer.span("lookup", "range")(
          Lookup.rangeLookupMetered(dir, "ts", lo, lo + 500))))(
          sameRows(_, live.values.filter(r => r.getLong(1) >= lo && r.getLong(1) <= lo + 500)))
      case 7 =>
        val lo = recentTs()
        val cat = s"c${rnd.nextInt(40)}"
        s.attempt("lookup_composite")(lookups.add(ctx.tracer.span("lookup", "composite")(
          Lookup.compositeLookupMetered(dir, Seq("category", "ts"), Seq(cat), Some((lo, lo + 5000))))))(
          sameRows(_, live.values.filter(r => r.getString(3) == cat && r.getLong(1) >= lo && r.getLong(1) <= lo + 5000)))
      case 8 =>
        val u = rnd.nextInt(500).toLong
        s.attempt("sql_probe") {
          val q = nimble.filter(col("user_id") === u)
          ctx.tracer.span("nimblesource", "plan")(q.queryExecution.executedPlan)
          val rows = ctx.tracer.span("nimblesource", "exec")(q.collect().toSeq)
          if (ctx.tracer.on) scans.add(ScanMetrics.of(q))
          rows
        } { got =>
          got.map(_.toSeq).toSet == live.values.filter(_.getLong(2) == u).map(_.toSeq).toSet &&
            got.length == live.values.count(_.getLong(2) == u)
        }
    }

    // two untimed cycles on the table first, so the ops' code is compiled
    // before the clock runs
    val warm = new Samples(ctx)
    (0 until 2).foreach(_ => runCycle(warm))
    // a step is one whole cycle, so every run has the same mix of ops
    val phase = Phase.run(ctx)((s, _) => runCycle(s))

    // end of run: full compaction, whose output must hold exactly the model's rows
    val outDir = ctx.dir("ingest_compacted")
    val t0 = System.nanoTime()
    val rep = Compaction.compact(spark, dir, outDir)
    val compactMs = (System.nanoTime() - t0) / 1e6
    checks.verify("compact report", rep.rows == live.size)
    val got = spark.read.format("nimble").load(outDir)
    val want = frame(live.values.toSeq)
    checks.verify("compacted table equals the model", Checksum.of(got) == Checksum.of(want))
    val liveBytes = live.valuesIterator.map(Logical.row(_, schema)).sum.toDouble
    val stored = Disk.bytes(outDir)

    val main = phase.main
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      FormatProbe.run(outDir) ++ lookups.metrics ++ scans.metrics ++ Map(
        "nimblesource.plan_ms" -> ctx.tracer.medianMs("nimblesource", "plan"),
        "nimblesource.exec_ms" -> ctx.tracer.medianMs("nimblesource", "exec"),
        "wl.sql_probe_p50_ms" -> Stat.median(main.lat.getOrElse("sql_probe", Nil).toSeq),
        "maint.append_ms" -> ctx.tracer.medianMs("nimblesource", "append"),
        "maint.delete_ms" -> ctx.tracer.medianMs("maint", "delete"),
        "maint.update_ms" -> ctx.tracer.medianMs("maint", "update"),
        "maint.merge_ms" -> ctx.tracer.medianMs("maint", "merge"),
        "maint.compact_small_ms" -> ctx.tracer.medianMs("maint", "compact_small"),
        "maint.compact_ms" -> compactMs,
        "maint.files_rewritten" -> filesRewritten.toDouble / math.max(1L, maintOps),
        "maint.bytes_rewritten_per_user_byte" -> rewrittenBytes / math.max(1.0, appendedBytes),
        "wl.ingest_cpu_ms_per_mb" -> main.cpuMs / math.max(1e-9, main.userBytes / 1e6))
    Outcome(main.endToEnd(setupS, stored / liveBytes) ++ layers ++ Common.layers(ctx, phase, stored, setupWall),
      warm.attempted + phase.attempted + checks.attempted, warm.failed + phase.failed + checks.failed)
  }
}

/** Order-independent content checksum of a table: row count and a sum of
  * row hashes. Maps hash as their sorted entries. */
object Checksum {
  def of(df: DataFrame): Seq[Any] = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    df.agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1L << 40)))).head().toSeq
  }
}

/** Sums of `Lookup.Metrics` over the probes. */
final class LookupTotals {
  private var decoded, stripes, indexProbes, hits, probes = 0L
  def add(r: (Seq[Map[String, Any]], Lookup.Metrics)): Seq[Map[String, Any]] = {
    decoded += r._2.rowsDecoded
    stripes += r._2.stripesProbed
    indexProbes += r._2.indexProbes
    hits += r._1.length
    probes += 1
    r._1
  }
  def metrics: Map[String, Double] = Map(
    "lookup.rows_decoded_per_hit" -> decoded.toDouble / math.max(1L, hits),
    "lookup.stripes_probed" -> stripes.toDouble / math.max(1L, probes),
    "lookup.index_probes" -> indexProbes.toDouble / math.max(1L, probes))
}
