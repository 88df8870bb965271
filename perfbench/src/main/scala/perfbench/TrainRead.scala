package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `train_read`: feature-subset reads of a wide training table.
  *
  * The table has 210 scalar columns, 30 for each of the reference value
  * patterns (Random, Narrow8bit, Constant, MainlyConstant, RunLength,
  * Increasing, LowCardinality), a 200-key flatmap feature column, a string
  * and a decimal column, sorted on `ts`. On disk (about 3.7 MB) it is
  * larger than the 2 MB block cache this workload runs with. Queries cycle through a seeded
  * list: 70% feature-subset projections, 20% projections filtered on a `ts`
  * range, 10% aggregates. Every answer is checked against the same query
  * over a parquet copy of the table.
  */
object TrainRead extends Workload {
  val name = "train_read"
  val CacheBytes: Long = 2L << 20
  override def conf: Map[String, String] = Map("spark.graft.scan.blockCacheBytes" -> CacheBytes.toString)

  private val Rows = 12000
  private val Files = 4
  private val PerPattern = 30
  private val FmGroups = 8 // one key per group per row
  private val FmGroupKeys = 25 // 8 x 25 = 200 keys
  private val WriteOptions = Map("sortColumns" -> "ts", "flatMapColumns" -> "fm", "rowsPerChunk" -> "4096")

  /** The table: a pure function of the seed, generated inside Spark tasks
    * (one per output file) so the rows never pass through the driver. */
  def table(gen: WideGen): DataFrame = {
    SparkSession.active.range(0, Files, 1, Files)
      .mapPartitions(_.flatMap(p => gen.partition(p.longValue)))(Encoders.row(gen.schema))
  }

  /** One query of the mix: its kind, columns, optional `ts` range and group column. */
  final case class Query(kind: String, cols: Seq[String], fmKeys: Seq[String],
      range: Option[(Long, Long)], group: Option[String]) {
    private def projected: Seq[Column] = cols.map(c => col(c)) ++ fmKeys.map(k => col("fm").getItem(k).as(s"fm_$k"))
    def on(df: DataFrame): DataFrame = kind match {
      case "agg" if group.isDefined =>
        df.groupBy(col(group.get)).agg(count(lit(1)), sum(col(cols(0))), min(col(cols(1))), max(col(cols(2))))
      case "agg" =>
        df.agg(count(lit(1)), min(col(cols(0))), max(col(cols(0))), min(col(cols(1))), max(col(cols(2))))
      case _ =>
        val f = range.fold(df) { case (lo, hi) => df.filter(col("ts").between(lo, hi)) }
        val p = f.select(projected: _*)
        p.agg(count(lit(1)), sum(pmod(xxhash64(p.columns.toIndexedSeq.map(c => col(c)): _*), lit(1L << 40))))
    }
    def referenced: Seq[String] = (cols ++ group.toSeq).distinct
  }

  /** The seeded query list. The seed picks columns, keys and ranges; the
    * shape of each query (how many columns of each pattern, how many rows)
    * is fixed, so every seed costs about the same. */
  def queries(seed: Long): Seq[Query] = {
    val rnd = new scala.util.Random(seed ^ 0x7EADL)
    def cols(p: String, js: Seq[Int], n: Int): Seq[String] = rnd.shuffle(js).take(n).map(j => f"${p}_$j%02d")
    val longs = (0 until PerPattern).filterNot(WideGen.isDouble)
    val doubles = (0 until PerPattern).filter(WideGen.isDouble)
    // n columns of every pattern; a random pattern gives half as doubles
    def pick(n: Int): Seq[String] = WideGen.Patterns.flatMap {
      case "random" => cols("random", longs, n - n / 2) ++ cols("random", doubles, n / 2)
      case p => cols(p, 0 until PerPattern, n)
    }
    def fmKeys(n: Int): Seq[String] =
      rnd.shuffle((0 until FmGroups * FmGroupKeys).toList).take(n).map(k => s"f$k")
    val proj = (0 until 7).map(q => Query("proj", pick(2) :+ (if (q % 2 == 0) "name" else "price"), fmKeys(2), None, None))
    // a tenth of the rows, inside one file
    val filt = (0 until 2).map { _ =>
      val perFile = Rows / Files
      val first = rnd.nextInt(Files) * perFile + rnd.nextInt(perFile - Rows / 10)
      val lo = 1700000000000L + first * 10L
      Query("filt", pick(1) :+ "price", fmKeys(1), Some((lo, lo + Rows / 10 * 10L - 1)), None)
    }
    val agg = Query("agg", cols("narrow8", 0 until PerPattern, 1) ++ Seq("price") ++ cols("random", longs, 1),
      Nil, None, Some(cols("low_card", 0 until PerPattern, 1).head))
    rnd.shuffle(proj ++ filt :+ agg)
  }

  private def answer(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val gen = new WideGen(ctx.seed, Rows, Files, PerPattern, FmGroups, FmGroupKeys)
    // the rows are made once and held in memory, so a timed set-up pays for
    // the nimble write and not for the generator
    val df = table(gen).localCheckpoint()
    // untimed writes first, so the timed set-ups do not pay class loading
    // and first compilation
    (0 until 2).foreach { _ =>
      df.write.format("nimble").mode("overwrite").options(WriteOptions).save(ctx.dir("train_warm"))
      Disk.delete(ctx.dir("train_warm"))
    }
    val (setupS, setupWall, dir) = Loop.setup(ctx) { r =>
      val d = ctx.dir(s"train_$r")
      df.write.format("nimble").mode("overwrite").options(WriteOptions).save(d)
      spark.read.format("nimble").load(d).schema
      d
    }
    ctx.log(f"set-up $setupS%.2f s")
    (0 until Loop.SetupReps - 1).foreach(r => Disk.delete(ctx.dir(s"train_$r")))
    val pq = ctx.dir("train_parquet")
    df.write.mode("overwrite").parquet(pq)
    val nimble = spark.read.format("nimble").load(dir)
    val parquet = spark.read.parquet(pq)
    ctx.log("parquet copy written")

    // exact logical bytes per column, from the generator's own rows
    val colBytes: Map[String, Double] = {
      val fields = gen.schema.fields
      val acc = new Array[Long](fields.length)
      (0L until Rows).foreach { i =>
        val r = gen.row(i)
        var c = 0
        while (c < acc.length) { acc(c) += Logical.value(r.get(c), fields(c).dataType); c += 1 }
      }
      fields.map(_.name).zip(acc.map(_.toDouble)).toMap
    }
    val userBytes = colBytes.values.sum
    val fmBytesPerKey = colBytes("fm") / (FmGroups * FmGroupKeys)

    val qs = queries(ctx.seed)
    val expected = qs.map(q => answer(q.on(parquet)))
    // logical bytes a query covers: its columns, scaled by the rows it selects
    val qBytes = qs.zip(expected).map { case (q, ans) =>
      val frac = if (q.kind == "agg") 1.0 else ans.head.stripPrefix("[").split(",")(0).toDouble / Rows
      (q.referenced.map(colBytes).sum + q.fmKeys.length * fmBytesPerKey) * frac
    }
    ctx.log("expected answers ready")
    val warm = new Samples(ctx)
    // two untimed passes, so the scan's code is compiled before the clock runs
    (0 until 2).foreach(_ => qs.indices.foreach(i => warm.attempt("warmup")(answer(qs(i).on(nimble)))(_ == expected(i))))

    ctx.log("warmed up")
    val scans = new ScanTotals
    // a step is one pass over the query list, so every run has the same mix
    val phase = Phase.run(ctx)((s, _) => qs.indices.foreach { k =>
      val q = qs(k)
      s.attempt(q.kind) {
        val df = q.on(nimble)
        ctx.tracer.span("nimblesource", "plan")(df.queryExecution.executedPlan)
        val ans = ctx.tracer.span("nimblesource", "exec")(answer(df))
        if (ctx.tracer.on) scans.add(ScanMetrics.of(df))
        ans
      } { ans => s.userBytes += qBytes(k); ans == expected(k) }
    })
    ctx.log("timed phase done")
    val stored = Disk.bytes(dir)
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      scans.metrics ++ FormatProbe.run(dir) ++ Map(
        "nimblesource.plan_ms" -> ctx.tracer.medianMs("nimblesource", "plan"),
        "nimblesource.exec_ms" -> ctx.tracer.medianMs("nimblesource", "exec"))
    Outcome(phase.main.endToEnd(setupS, stored / userBytes) ++ layers ++ Common.layers(ctx, phase, stored, setupWall),
      warm.attempted + phase.attempted, warm.failed + phase.failed)
  }
}

/** Logical (user) bytes: fixed-width sizes of non-null values plus string
  * and binary lengths, map keys and values alike. An exact count. */
object Logical {
  def width(t: DataType): Int = t match {
    case BooleanType | ByteType => 1
    case ShortType => 2
    case IntegerType | FloatType | DateType => 4
    case LongType | DoubleType | TimestampType => 8
    case d: DecimalType => if (d.precision <= 18) 8 else 16
    case _ => 0
  }

  /** One value's logical bytes, for rows the benchmark holds itself. */
  def value(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0L
    case (s: String, _) => s.getBytes("UTF-8").length.toLong
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.map { case (k, x) => value(k, kt) + value(x, vt) }.sum
    case (_, other) => width(other).toLong
  }

  def row(r: Row, schema: StructType): Long =
    schema.fields.indices.map(i => value(r.get(i), schema(i).dataType)).sum
}

/** Seeded rows of the wide table. Every cell is a hash of (seed, column,
  * row), so a row does not depend on which task makes it; the per-column
  * pattern parameters come from one seeded Random. */
final class WideGen(seed: Long, rows: Int, files: Int, perPattern: Int, fmGroups: Int, fmGroupKeys: Int)
    extends Serializable {
  import WideGen._

  private val rnd = new scala.util.Random(seed)
  private val kinds: Array[String] = (for (p <- Patterns; _ <- 0 until perPattern) yield p).toArray
  /** Two parameters per column (constant, run length, step, ...). */
  private val pa: Array[Long] = kinds.map {
    case "constant" => rnd.nextLong()
    case "mainly_constant" => rnd.nextInt(1000).toLong
    case "run_length" => 10L + rnd.nextInt(51)
    case "increasing" => rnd.nextInt(1000000).toLong
    case "low_card" => 1L + rnd.nextInt(1000)
    case _ => 0L
  }
  private val pb: Array[Long] = kinds.map {
    case "increasing" => 1L + rnd.nextInt(9)
    case "low_card" => rnd.nextInt(1000).toLong
    case _ => 0L
  }

  val schema: StructType = StructType(
    StructField("ts", LongType) +:
      kinds.indices.map { c =>
        val t = kinds(c) match {
          case "random" => if (isDouble(c % perPattern)) DoubleType else LongType
          case "narrow8" | "run_length" => IntegerType
          case _ => LongType
        }
        StructField(f"${kinds(c)}_${c % perPattern}%02d", t)
      } :+
      StructField("name", StringType) :+
      StructField("price", DecimalType(12, 2)) :+
      StructField("fm", MapType(StringType, FloatType)))

  private def h(c: Int, i: Long): Long = mix(seed * 0x9E3779B97F4A7C15L + c * 0xBF58476D1CE4E5B9L + i)

  def row(i: Long): Row = {
    val v = new Array[Any](kinds.length + 4)
    v(0) = 1700000000000L + i * 10 + java.lang.Math.floorMod(h(-1, i), 10L)
    var c = 0
    while (c < kinds.length) {
      val x = h(c, i)
      v(c + 1) = kinds(c) match {
        case "random" => if (isDouble(c % perPattern)) java.lang.Math.floorMod(x, 1000000000L) / 1000.0 else x
        case "narrow8" => (x & 0xff).toInt
        case "constant" => pa(c)
        case "mainly_constant" => if (java.lang.Math.floorMod(x, 100L) < 95) pa(c) else java.lang.Math.floorMod(x, 1000000L)
        case "run_length" => java.lang.Math.floorMod(h(c, i / pa(c)), 1000L).toInt
        case "increasing" => pa(c) + i * pb(c)
        case "low_card" => java.lang.Math.floorMod(x, 64L) * pa(c) + pb(c)
      }
      c += 1
    }
    v(c + 1) = "user_" + java.lang.Math.floorMod(h(-2, i), 5000L)
    v(c + 2) = java.math.BigDecimal.valueOf(java.lang.Math.floorMod(h(-3, i), 10000000L), 2)
    v(c + 3) = (0 until fmGroups).map { g =>
      s"f${g * fmGroupKeys + java.lang.Math.floorMod(h(1000 + g, i), fmGroupKeys.toLong)}" ->
        (java.lang.Math.floorMod(h(2000 + g, i), 100000L) / 1000.0f)
    }.toMap
    Row.fromSeq(v.toSeq)
  }

  def partition(p: Long): Iterator[Row] = {
    val per = rows / files
    (p * per until (if (p == files - 1) rows.toLong else (p + 1) * per)).iterator.map(row)
  }
}

object WideGen {
  val Patterns = Seq("random", "narrow8", "constant", "mainly_constant", "run_length", "increasing", "low_card")

  /** Every third Random column holds doubles, the rest longs. */
  def isDouble(j: Int): Boolean = j % 3 == 2

  /** SplitMix64's finaliser. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
