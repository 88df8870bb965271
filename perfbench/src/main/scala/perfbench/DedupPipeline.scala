package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** `dedup_pipeline`: near-duplicate removal over a stored document corpus.
  *
  * The corpus is seeded base documents of 40-60 words from a 5000-word
  * vocabulary, with planted exact copies (case and spacing changed) and
  * near copies (three words replaced), stored as nimble. One op is one whole
  * pass of the pipeline `Dedup.fingerprintGroups` -> `ngramJaccardPairs` ->
  * `minhashPairs` -> `dedupClusters` -> `dedupApply`, the last writing the
  * kept documents back as nimble; each phase is a span of its own. A phase
  * takes a few hundred ms, most of it Spark planning and job overhead, so a
  * phase's CPU also holds whatever GC or clean-up the previous one left;
  * over a whole pass that evens out. Every phase's output is checked against
  * the planted ground truth; minhash pairs must be a subset of the Jaccard
  * pairs. A traced run also counts the LSH candidate pairs (minhash at
  * threshold 0) that the verified minhash pairs are a share of.
  */
object DedupPipeline extends Workload {
  val name = "dedup_pipeline"

  private val BaseDocs = 200
  private val Vocab = 5000
  private val Threshold = 0.5
  private val Phases = Seq("fingerprint", "jaccard", "minhash", "clusters", "apply")

  /** The corpus: (id, text) rows and the planted clusters (as id sets). */
  final case class Corpus(docs: Seq[(Long, String)], clusters: Seq[Seq[Long]], exact: Seq[Seq[Long]])

  def corpus(seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int): Vector[String] = Vector.fill(n)(s"w${rnd.nextInt(Vocab)}")
    val ids = rnd.shuffle((0L until BaseDocs * 3L).toVector).iterator
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val clusters = mutable.ArrayBuffer[Seq[Long]]()
    val exact = mutable.ArrayBuffer[Seq[Long]]()
    // the same number of copies for every seed (the seed picks the words,
    // lengths, edits and ids), so the corpus size does not move the
    // throughput figure from seed to seed: per ten base documents, one with
    // one exact copy and one with two, one with one near copy and one with two
    for (b <- 0 until BaseDocs) {
      val base = words(40 + rnd.nextInt(21))
      val id0 = ids.next()
      docs += id0 -> base.mkString(" ")
      val copies = b % 10 match { case 0 => 1; case 1 => 2; case _ => 0 }
      val near = b % 10 match { case 2 => 1; case 3 => 2; case _ => 0 }
      val exactIds = (0 until copies).map { _ =>
        val id = ids.next()
        docs += id -> base.map(w => if (rnd.nextBoolean()) w.toUpperCase else w).mkString(if (rnd.nextBoolean()) "  " else " ")
        id
      }
      val nearIds = (0 until near).map { _ =>
        val id = ids.next()
        var t = base
        (0 until 3).foreach(_ => t = t.updated(rnd.nextInt(t.length), s"x${rnd.nextInt(Vocab)}"))
        docs += id -> t.mkString(" ")
        id
      }
      if (copies > 0) exact += (id0 +: exactIds)
      if (copies + near > 0) clusters += (id0 +: (exactIds ++ nearIds))
    }
    Corpus(docs.toSeq, clusters.toSeq, exact.toSeq)
  }

  /** Word 3-shingle Jaccard, as the operators define it (lower-cased, split on whitespace). */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String): Set[Seq[String]] = s.toLowerCase.split("\\s+").toSeq.sliding(3).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val c = corpus(ctx.seed)
    val text = c.docs.toMap
    val input = c.docs.toDF("id", "text").repartition(4)
    // ground truth: pairs inside a planted cluster at or above the threshold
    val truePairs: Set[(Long, Long)] = c.clusters.flatMap { ids =>
      for (a <- ids; b <- ids if a < b && jaccard(text(a), text(b)) >= Threshold) yield (a, b)
    }.toSet
    // every document's cluster: the smallest id connected to it by true pairs
    val clusterOf: Map[Long, Long] = {
      val up = mutable.HashMap[Long, Long]()
      def root(x: Long): Long = up.get(x).fold(x)(root)
      truePairs.foreach { case (a, b) =>
        val (ra, rb) = (root(a), root(b))
        if (ra != rb) up(math.max(ra, rb)) = math.min(ra, rb)
      }
      c.docs.map { case (id, _) => id -> root(id) }.toMap
    }
    val kept: Set[Long] = clusterOf.collect { case (id, cl) if id == cl => id }.toSet
    val corpusBytes = c.docs.map { case (_, t) => 8L + t.getBytes("UTF-8").length }.sum.toDouble

    def write(df: DataFrame, d: String): Unit = df.write.format("nimble").mode("overwrite").save(d)
    write(input, ctx.dir("dedup_warm"))
    val (setupS, setupWall, dir) = Loop.setup(ctx) { r =>
      val d = ctx.dir(s"dedup_$r")
      write(input, d)
      spark.read.format("nimble").load(d).schema
      d
    }
    (0 until Loop.SetupReps - 1).foreach(r => Disk.delete(ctx.dir(s"dedup_$r")))
    ctx.log(f"set-up $setupS%.2f s")
    val outDir = ctx.dir("dedup_out")

    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(least($"a", $"b"), greatest($"a", $"b")).as[(Long, Long)].collect().toSet
    final case class Pass(groups: Set[(Long, Long)], jac: Set[(Long, Long)], mh: Set[(Long, Long)],
        clusters: Set[(Long, Long)], left: Set[Long])
    var verified = 0L
    /** Runs the whole pipeline over the stored corpus as one op, each phase
      * in its own span; the Jaccard pairs feed the clusters and apply phases. */
    def pass(s: Samples): Unit = {
      def ph[A](p: String)(body: => A): A = ctx.tracer.span("dedup", p)(body)
      s.attempt("pass") {
        val docs = spark.read.format("nimble").load(dir)
        val groups = ph("fingerprint")(Dedup.fingerprintGroups(docs, "id", "text").filter($"cnt" > 1)
          .select($"cnt", $"keeper").as[(Long, Long)].collect().toSet)
        val jac = ph("jaccard")(pairSet(Dedup.ngramJaccardPairs(docs, "id", "text", 3, Threshold)))
        val mh = ph("minhash")(pairSet(Dedup.minhashPairs(docs, "id", "text", threshold = Threshold)))
        val clusters = ph("clusters")(Dedup.dedupClusters(docs, "id", jac.toSeq.toDF("a", "b"))
          .select($"id", $"cluster").as[(Long, Long)].collect().toSet)
        val left = ph("apply") {
          write(Dedup.dedupApply(docs, "id", jac.toSeq.toDF("a", "b")), outDir)
          spark.read.format("nimble").load(outDir).select($"id").as[Long].collect().toSet
        }
        Pass(groups, jac, mh, clusters, left)
      } { got =>
        s.userBytes += corpusBytes
        verified = got.mh.size
        val wrong = Seq(
          "fingerprint" -> (got.groups == c.exact.map(ids => (ids.length.toLong, ids.min)).toSet),
          "jaccard" -> (got.jac == truePairs),
          "minhash" -> got.mh.subsetOf(got.jac),
          "clusters" -> (got.clusters == clusterOf.toSet),
          "apply" -> (got.left == kept)).collect { case (p, false) => p }
        wrong.foreach(p => ctx.log(s"dedup $p: wrong result"))
        wrong.isEmpty
      }
    }

    // three untimed passes: a pass is mostly Spark planning, code generation
    // and job overhead, and its CPU keeps falling for the first few passes
    // while the JIT compiles that code
    val warm = new Samples(ctx)
    (0 until 3).foreach(_ => pass(warm))
    ctx.log("warmed up")
    // a step is two passes: a pass takes 3.5-6 s, so with one-pass steps a
    // run timed one, two or three of them by the host's speed, and the
    // earlier a pass the more CPU it takes while the JIT still compiles
    val result = Phase.run(ctx)((s, _) => { pass(s); pass(s) })
    val stored = Disk.bytes(dir)
    val main = result.main
    val checks = new Samples(ctx)
    // LSH candidates before verification: every candidate pair has a
    // Jaccard of at least 0, so at threshold 0 minhashPairs returns them all
    val candidates = if (!ctx.traced) 0L else
      Dedup.minhashPairs(spark.read.format("nimble").load(dir), "id", "text", threshold = 0.0).count()
    if (ctx.traced) checks.verify("minhash candidates", candidates >= verified)
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      FormatProbe.run(dir) ++ Phases.map(p => s"dedup.${p}_ms" -> ctx.tracer.medianMs("dedup", p)) ++ Map(
        "dedup.verified_per_candidate_pair" -> verified.toDouble / math.max(1L, candidates),
        "wl.dedup_docs_s" -> main.ops.toDouble * c.docs.length / (main.wallNs / 1e9))
    Outcome(main.endToEnd(setupS, stored / corpusBytes) ++ layers ++ Common.layers(ctx, result, stored, setupWall),
      warm.attempted + result.attempted + checks.attempted, warm.failed + result.failed + checks.failed)
  }
}
