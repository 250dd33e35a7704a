package perfbench

import java.nio.file.{Files, Paths}
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The x49_pipeline_v3 registry program (span dedup, quality gate, exact and
  * fuzzy decontamination, semantic dedup) over a seeded document corpus.
  * The engine layers stay idle; the ops layer does all the work. The output
  * is checked against the registry's DuckDB oracle SQL by run.py, after the
  * JVM has exited.
  */
object Curate {
  val Query = "x49_pipeline_v3"
  val BaseDocs = 300
  val Replicas = 4
  val Dims = 64
  val Clusters = 10
  /** ScaleRehearsal's growth model: replica k offsets ids by k·10⁶. */
  val ReplicaOffset = 1000000L
  /** Stopwords (the quality gate counts them) and a 400-word Zipf vocabulary,
    * so that token sets differ between documents and only real near-copies
    * reach the fuzzy threshold.
    */
  val Stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
  val Words: IndexedSeq[String] = Stopwords.toIndexedSeq ++ (0 until 400).map(i => f"w$i%03d")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Base corpus from the seed: Zipf-distributed word runs with shared spans,
    * near-copies of benchmark documents (doc_id % 20 == 0) and clustered
    * embeddings with a few near-identical vectors.
    */
  def base(seed: Long): (Seq[(Long, String, String, String)], Seq[(Long, Array[Float], Int)]) = {
    val rnd = new Random(seed)
    val zipf = new Zipf(Words.size, 1.0, rnd)
    def word() = Words(zipf.next())
    val texts = new Array[String](BaseDocs)
    for (i <- 0 until BaseDocs) {
      val n = 40 + rnd.nextInt(160)
      var ws = Seq.fill(n)(word())
      if (i > 20 && rnd.nextDouble() < 0.15) {          // a span shared with an earlier doc
        val src = texts(rnd.nextInt(i)).split(" ")
        val from = rnd.nextInt(math.max(1, src.length - 10))
        ws = ws.take(n / 2) ++ src.slice(from, from + 10) ++ ws.drop(n / 2)
      }
      if (i % 20 != 0 && i > 20 && rnd.nextDouble() < 0.05) {   // near-copy of a benchmark doc
        val src = texts((rnd.nextInt(i) / 20) * 20).split(" ")
        ws = src.toSeq.updated(rnd.nextInt(src.length), word())
      }
      texts(i) = ws.zipWithIndex.map { case (w, j) => if (j % 17 == 16) w + "." else w }.mkString(" ")
    }
    val docs = texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Seq("en", "de", "fr", "es", "zh")(rnd.nextInt(5)), s"src${rnd.nextInt(20)}")
    }
    val centers = Array.fill(Clusters, Dims)(rnd.nextGaussian().toFloat)
    val vecs = new Array[(Long, Array[Float], Int)](BaseDocs)
    for (i <- 0 until BaseDocs) {
      val label = rnd.nextInt(Clusters)
      val v =
        if (i > 10 && rnd.nextDouble() < 0.05) vecs(rnd.nextInt(i))._2.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
        else centers(label).map(c => c + 0.6f * rnd.nextGaussian().toFloat)
      vecs(i) = (i.toLong, v, label)
    }
    (docs, vecs.toSeq)
  }

  /** Replicate the base corpus: a token suffix per replica (new content, not
    * copies) and a distinct dimension rotation with sign flips per replica.
    */
  def build(spark: SparkSession, seed: Long, dir: String): Int = {
    val (docs, vecs) = base(seed)
    val docRows = (0 until Replicas).flatMap { k =>
      docs.map { case (id, t, lang, src) =>
        val text = if (k == 0) t
          else t.toLowerCase.split("\\s+").filter(_.nonEmpty).map(_ + s"_r$k").mkString(" ")
        Row(id + k * ReplicaOffset, text, lang, src, text.length.toLong)
      }
    }
    val embRows = (0 until Replicas).flatMap { k =>
      val rot = k % Dims
      val flips = k / Dims
      vecs.map { case (id, v, label) =>
        val r = Array.tabulate(Dims) { i =>
          val x = v((i + rot) % Dims); if (i < flips) -x else x
        }
        Row(id + k * ReplicaOffset, r.toSeq, label)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(embRows, 4), embSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    docRows.size
  }

  /** Run `prepare` `reps` times (inputs built from scratch each time) and
    * return the median seconds with the last result.
    */
  private def repeatedSetup[T](reps: Int)(prepare: => T): (Double, T) = {
    val runs = (0 until reps).map { _ =>
      val t0 = Bench.nowNs()
      val r = prepare
      ((Bench.nowNs() - t0) / 1e9, r)
    }
    (Bench.median(runs.map(_._1)), runs.last._2)
  }

  /** Whole passes until `seconds` have elapsed (at least `minPasses`):
    * per-pass wall and process CPU in milliseconds.
    */
  private def passes(seconds: Double, minPasses: Int)(pass: => Unit): (Seq[Double], Seq[Double]) = {
    val wall = Seq.newBuilder[Double]
    val cpu = Seq.newBuilder[Double]
    val start = Bench.nowNs()
    var i = 0
    while (i < minPasses || (Bench.nowNs() - start) / 1e9 < seconds) {
      val c0 = Bench.cpuNs(); val t0 = Bench.nowNs()
      pass
      wall += (Bench.nowNs() - t0) / 1e6
      cpu += (Bench.cpuNs() - c0) / 1e6
      i += 1
    }
    (wall.result(), cpu.result())
  }

  /** The untraced measurement gives the end-to-end metrics; with tracing on
    * a second, traced window of the same length gives the per-layer metrics
    * and the ratio of the two headline values.
    */
  private def window(ctx: Ctx, o: Outcome)(measure: Double => Double): Unit = {
    val secs = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
    val untraced = measure(secs)
    if (ctx.trace) {
      Trace.reset()
      Trace.enabled = true
      val traced = measure(secs)
      Trace.drain(ctx.spark)
      Trace.enabled = false
      o.detail("headline_untraced") = untraced
      o.detail("headline_traced") = traced
      o.detail("overhead") = traced / untraced
      o.layers("trace.overhead") = traced / untraced
    }
  }

  def pass(spark: SparkSession, corpus: String, out: String): Unit =
    SparkEntry.queries(Query)(spark, corpus).write.mode("overwrite").parquet(out)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val sessionS = Bench.sinceJvmStart()
    val corpus = ctx.dir("curate/corpus")
    val (prepS, nDocs) = repeatedSetup(3)(build(spark, ctx.seed, corpus))
    val out = ctx.dir("curate/out")
    // two warm-up passes: the first runs cold, the second still compiles
    val w0 = Bench.nowNs()
    for (_ <- 0 until 2) pass(spark, corpus, out)
    val warmS = (Bench.nowNs() - w0) / 1e9

    var wall = Seq.empty[Double]; var cpu = Seq.empty[Double]
    window(ctx, o) { secs =>
      val t0 = Bench.nowNs()
      val (wl, c) = passes(secs, 3)(pass(spark, corpus, out))
      wall = wl; cpu = c
      if (Trace.enabled) Layers.fill(ctx, o, wl.size, Bench.nowNs() - t0)
      Bench.median(wl)
    }
    val heap = Bench.retainedHeapMb()
    Files.writeString(Paths.get(ctx.work, "curate", "x49_oracle.sql"), SparkEntry.oracleSql(Query))
    o.attempted = wall.size; o.failed = 0
    o.metric("setup_s", sessionS + prepS + warmS, "s")
    o.metric("op_p50_ms", Bench.median(wall), "ms")
    o.metric("op_cpu_ms", Bench.median(cpu), "ms")
    o.metric("retained_heap_mb", heap, "MB")
    o.detail("wall_s") = Bench.median(wall) / 1000
    o.detail("cpu_s") = Bench.median(cpu) / 1000
    o.detail("passes") = wall.size
    o.detail("setup_parts_s") = Map("session" -> sessionS, "prepare_median" -> prepS, "warmup" -> warmS)
    o.detail("sizes") = Map("documents" -> nDocs, "base_documents" -> BaseDocs,
      "replicas" -> Replicas, "dims" -> Dims)
    o.detail("output_rows") = spark.read.parquet(out).count()
    o
  }
}
