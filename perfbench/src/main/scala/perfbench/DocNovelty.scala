package perfbench

import graft.ops.Dedup
import org.apache.spark.BenchBus
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `doc_novelty`, a closed loop: `Dedup.streamingNovelty` over a seeded
  * near-duplicate corpus in doc-id-ordered chunk files, one micro-batch
  * per chunk. The corpus is a backlog due when an iteration starts; the
  * next iteration starts when the previous one ends, until the run's
  * seconds are spent. A doc is visible when the micro-batch of its chunk
  * ends. In a traced run, iterations alternate traced and untraced, which
  * gives the tracing overhead. The last output is checked against the
  * `Dedup.streamingNoveltySql(0.5)` oracle in DuckDB.
  */
final class DocNovelty(ctx: Ctx) extends Workload {
  import DocNovelty._

  private val spark = ctx.spark
  private val full: Size = if (ctx.args.tiny) Size(300, 2) else Size(1500, 3)
  private val warm = Size(300, 2)
  private var input: Option[Corpus] = None

  def inputs: Map[String, Long] = Map("docs" -> full.docs.toLong, "files" -> full.chunks.toLong)

  def warmUp(): Unit = {
    val it = iterate(generate(ctx.dir("warm-input"), warm), ctx.dir("warm"), traced = false, damage = false)
    require(it.failed == 0, s"warm-up pass failed on ${it.failed} docs")
    Seq("warm-input", "warm").foreach(d => Fs.delete(ctx.dir(d)))
  }

  def setup(rep: Int): Unit = input = Some(generate(ctx.dir(s"input$rep"), full))

  def measure(): Outcome = {
    val in = input.get
    val t0 = Clock.nowMs
    val iters = ArrayBuffer.empty[Iter]
    val minIters = if (ctx.args.trace) 2 else 1
    while (iters.size < minIters || Clock.nowMs - t0 < ctx.args.seconds * 1000.0) {
      val traced = ctx.args.trace && iters.size % 2 == 0
      iters += iterate(in, ctx.dir(s"iter${iters.size}"), traced, ctx.args.corrupt)
    }
    val m = new Layers
    if (ctx.args.trace) traceLayers(iters.toSeq, m)
    val timed = if (ctx.args.trace) iters.filterNot(_.traced) else iters
    Outcome(iters.map(_.docs).sum, iters.map(_.failed).sum, timed.flatMap(_.latMs).toSeq,
      in.docs / Stats.median(timed.map(_.ms / 1000.0).toSeq), m,
      oracle = Some(Map("sql" -> Dedup.streamingNoveltySql(Threshold), "documents" -> in.docsFile,
        "output" -> s"${iters.last.work}/out")))
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** The corpus as one file (for the oracle) and as chunk files, stamped
    * with increasing modification times so the file source takes them as
    * micro-batches in doc-id order.
    */
  private def generate(dir: String, size: Size): Corpus = {
    val in = Corpus(dir, size.docs, size.chunks)
    val docs = DocGen.docs(ctx.args.seed, size.docs)
    def frame(d: Seq[(Long, String)]) = spark.createDataFrame(d.map { case (id, t) => Row(id, t) }.asJava, schema)
    Fs.writeOne(frame(docs), in.docsFile)
    val base = System.currentTimeMillis() - 3600L * 1000L
    docs.grouped(in.per).zipWithIndex.foreach { case (chunk, k) =>
      val f = s"${in.chunkDir}/chunk_$k.parquet"
      Fs.writeOne(frame(chunk), f)
      new java.io.File(f).setLastModified(base + k * 1000L)
    }
    in
  }

  private def iterate(in: Corpus, work: String, traced: Boolean, damage: Boolean): Iter = {
    val gc0 = SparkTrace.gcMs
    val t0 = Clock.nowMs
    def run(): Unit = Dedup.streamingNovelty(spark, in.chunkDir, schema, s"$work/index",
      s"$work/out", s"$work/ckpt", Threshold)
    val root = if (traced) ctx.spans.timed("ops.Dedup.streamingNovelty", 0L)(id => { run(); id })
      else { run(); 0L }
    val t1 = Clock.nowMs
    val gcMs = SparkTrace.gcMs - gc0
    // the output check runs after t1, outside the traced window
    if (damage)
      spark.read.parquet(s"$work/out").limit(1).withColumn("novel", not(col("novel")))
        .write.mode("append").parquet(s"$work/out")
    val written = spark.read.parquet(s"$work/out").select("doc_id").distinct().count()
    BenchBus.drain(spark.sparkContext)
    val qid = ctx.progress.queryIds.filter(id => ctx.progress.started(id).exists(_ >= t0 - 1)).head
    val trigs = ctx.progress.of(qid)
    // chunk k's docs are visible when micro-batch k ends
    val byBatch = trigs.map(t => t.batchId -> t).toMap
    var missing = 0L
    val lat = in.perChunk.zipWithIndex.flatMap { case (n, k) =>
      byBatch.get(k.toLong) match {
        case Some(t) => Seq.fill(n)(t.endMs - t0)
        case None => missing += n; Nil
      }
    }
    Iter(t0, t1, in.docs, lat, missing + (in.docs - written), trigs, traced, root, work, gcMs)
  }

  private def traceLayers(iters: Seq[Iter], m: Layers): Unit = {
    val traced = iters.filter(_.traced)
    val windows = traced.map(it => (it.startMs, it.endMs))
    val jobs = ctx.sparkRec.jobsIn(windows)
    val tasks = ctx.sparkRec.tasksIn(windows)
    val trigs = traced.flatMap(_.triggers)
    traced.foreach(it => StreamTrace.recordTriggers(ctx.spans, it.root, it.triggers))
    StreamTrace.attachJobs(ctx.spans, jobs)
    StreamTrace.layers(trigs, jobs, tasks, m)
    SparkTrace.layers(jobs, tasks, traced.map(_.docs.toLong).sum, traced.map(_.ms).sum,
      traced.map(_.gcMs).sum, m)
    val untraced = iters.filterNot(_.traced)
    m("bench.trace_overhead_frac") = Stats.median(traced.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1.0
    m("bench.span_cover_frac") = ctx.spans.coverFrac("ops.Dedup.streamingNovelty")
    m("ops.novelty_batch_ms") = Stats.median(trigs.filter(_.rows > 0).map(_.d("addBatch")))
    m("ops.jobs_per_batch") = m("streaming.jobs_per_batch")
    val last = traced.last
    m("ops.index_files") = Fs.files(s"${last.work}/index", ".parquet").size.toDouble
    val out = spark.read.parquet(s"${last.work}/out")
    m("ops.dup_frac") = out.filter(!col("novel")).count().toDouble / math.max(out.count(), 1L)
  }
}

object DocNovelty {
  val Threshold = 0.5

  final case class Size(docs: Int, chunks: Int)

  final case class Corpus(dir: String, docs: Int, chunks: Int) {
    def docsFile: String = s"$dir/documents.parquet"
    def chunkDir: String = s"$dir/chunks"
    def per: Int = (docs + chunks - 1) / chunks
    def perChunk: Seq[Int] = (0 until chunks).map(k => math.max(0, math.min(per, docs - k * per)))
  }

  /** One iteration: wall time, its query's triggers, doc latencies and
    * failures, and the span its triggers hang under.
    */
  final case class Iter(startMs: Double, endMs: Double, docs: Int, latMs: Seq[Double], failed: Long,
                        triggers: Seq[Trigger], traced: Boolean, root: Long, work: String,
                        gcMs: Double) {
    def ms: Double = endMs - startMs
  }
}
