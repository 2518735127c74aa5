package perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{FileStatus, HyperFileMeta, MetaStore}
import graft.serve.Serve

/** Command-line arguments of one run. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m("trace") == "1", work = m("work"), out = m("out"))
  }
}

/** A value with its unit, as the result line carries it. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
                         metrics: Map[String, Metric], detail: Map[String, Any],
                         inputs: Map[String, Any])

/** Shared machinery of one run: the session, cache release, spans, the
  * engine listener (traced runs only), and the catalog + HTTP shell.
  */
final class Ctx(val spark: SparkSession, val args: Args, val startNs: Long) {
  /** The traced phase's listeners: the engine tape and the catalog's
    * snapshot-load marks. Attached only while [[tracing]].
    */
  val tape = new Tape
  val snapshotJobs = new SnapshotJobs
  @volatile private var on = false

  /** Whether the current phase is traced. */
  def tracing: Boolean = on

  /** Turn tracing (spans and listeners) on or off; a no-op in an
    * untraced run. Turning it off first drains the listener bus, so the
    * listeners hold every event of the traced phase.
    */
  def setTracing(traced: Boolean): Unit = if (args.trace && traced != on) {
    val sc = spark.sparkContext
    if (traced) { sc.addSparkListener(tape); sc.addSparkListener(snapshotJobs) }
    else { drain(); sc.removeSparkListener(tape); sc.removeSparkListener(snapshotJobs) }
    on = traced
  }

  /** Release every cached frame and persisted RDD, as `graft.Bench` does
    * between timed queries.
    */
  def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def drain(): Unit = Tape.drain(spark.sparkContext)

  /** A traced run's spans: each names the span that enclosed it on the
    * same thread (0 for none); times are epoch milliseconds.
    */
  final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long, s: Double)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val spanIds = new java.util.concurrent.atomic.AtomicLong()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Time `body` as a span while tracing; run it bare otherwise. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spanIds.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0L)
      open.set(id :: open.get)
      val ms = System.currentTimeMillis()
      val ns = System.nanoTime()
      try body
      finally {
        open.set(open.get.tail)
        spans.add(Span(id, parent, name, ms, System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9))
      }
    }

  def spanSeconds(name: String): Seq[Double] = spans.asScala.filter(_.name == name).map(_.s).toSeq

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "s" -> s.s)
  }

  def sinceStartS: Double = (System.nanoTime() - startNs) / 1e9

  /** CPU seconds this JVM has used so far, over all its threads. The
    * end-to-end times are taken in these: on a shared 4-core host the wall
    * time of the same work swings by a third from run to run with the
    * host's load, its CPU time by a few per cent.
    */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  // ---- catalog + HTTP shell ----------------------------------------------

  val token = "perfbench-token"

  /** A MetaStore that marks the Spark jobs its snapshot loads launch, so
    * a traced run can tell catalog snapshot misses from cache hits (with
    * no listener attached the mark is never read).
    */
  final class MarkedStore(root: String) extends MetaStore(spark, root) {
    override def hyperFilesSnapshot(): Seq[HyperFileMeta] = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Ctx.SnapshotProp, "1")
      try super.hyperFilesSnapshot() finally sc.setLocalProperty(Ctx.SnapshotProp, null)
    }
  }

  def fileRow(id: Long, formId: Long, name: String): HyperFileMeta =
    HyperFileMeta(id, 1L, formId, name, FileStatus.FileAvailable, isActive = true,
      Map.empty, new java.sql.Timestamp(1700000000000L))

  def startServe(store: MetaStore, sync: Long => Unit,
                 path: HyperFileMeta => String): (Serve, String) = {
    val s = new Serve(spark, store, token, sync, path)
    val port = s.start()
    (s, s"http://127.0.0.1:$port")
  }

  def http(method: String, url: String): (Int, String) = {
    val c = java.net.URI.create(url).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("Authorization", s"Bearer $token")
    c.setConnectTimeout(10000)
    c.setReadTimeout(170000)
    if (method == "POST") { c.setDoOutput(true); c.getOutputStream.close() }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    (code, body)
  }
}

object Ctx {
  val SnapshotProp = "perfbench.snapshot"
}

/** Open-loop reader: GETs the file list and single files at a fixed rate.
  * A scheduler thread releases each request at its due time to a small
  * pool, so a slow response never delays the next request's release;
  * latency is measured from the due time.
  */
final class GetLoad(ctx: Ctx, base: String, ids: Seq[Long], ratePerS: Double) {
  final case class Sample(latencyMs: Double, lagMs: Double, startMs: Long, endMs: Long,
                          ok: Boolean, what: String)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile private var running = true
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "perfbench-get")
    t.setDaemon(true)
    t
  })
  private val scheduler = new Thread(() => loop(), "perfbench-get-scheduler")

  private def request(i: Long, due: Long, released: Long): Unit = {
    val startMs = System.currentTimeMillis()
    val id = ids((i % ids.length).toInt)
    val (ok, what) =
      try {
        if (i % 2 == 0) {
          val (code, body) = ctx.http("GET", s"$base/api/v1/files?skip=${i % ids.length}&limit=5")
          (code == 200 && body.startsWith("[") && body.contains("\"id\":"), "list")
        } else {
          val (code, body) = ctx.http("GET", s"$base/api/v1/files/$id")
          (code == 200 && body.contains(s""""id":$id,"""), "detail")
        }
      } catch { case _: Exception => (false, "error") }
    samples.add(Sample((System.nanoTime() - due) / 1e6, (released - due) / 1e6, startMs,
      System.currentTimeMillis(), ok, what))
  }

  private def loop(): Unit = {
    val period = (1e9 / ratePerS).toLong
    val t0 = System.nanoTime()
    var i = 0L
    while (running) {
      val due = t0 + i * period
      val wait = due - System.nanoTime()
      try if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      catch { case _: InterruptedException => () }
      if (running) {
        val n = i
        val released = System.nanoTime()
        pool.execute(() => request(n, due, released))
        i += 1
      }
    }
  }

  def start(): GetLoad = { scheduler.setDaemon(true); scheduler.start(); this }

  def stop(): Seq[Sample] = {
    running = false
    scheduler.interrupt()
    scheduler.join(180000)
    pool.shutdown()
    pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS)
    samples.asScala.toSeq
  }
}

/** Engine-side layer metrics shared by every workload's traced run. */
object Layers {

  def engine(w: EngineWindow, per: Double): Map[String, Metric] = Map(
    "spark.jobs" -> Metric(w.jobs / per, "count"),
    "spark.stages" -> Metric(w.stages / per, "count"),
    "spark.driver_gap_s" -> Metric(w.driverGapS / per, "s"),
    "spark.executor_run_s" -> Metric(w.executorRunS / per, "s"),
    "spark.executor_cpu_s" -> Metric(w.executorCpuS / per, "s"),
    "spark.input_bytes" -> Metric(w.inputBytes / per, "B"),
    "spark.shuffle_read_bytes" -> Metric(w.shuffleReadBytes / per, "B"),
    "spark.shuffle_write_bytes" -> Metric(w.shuffleWriteBytes / per, "B"),
    "spark.spill_bytes" -> Metric(w.spillBytes / per, "B"),
    "spark.gc_s" -> Metric(w.gcS / per, "s"))

  /** GET latencies split by whether a catalog snapshot load (a Spark job
    * the catalog's snapshot cache launched) started while the GET was in
    * flight.
    */
  def gets(samples: Seq[GetLoad#Sample], snapshotJobs: Seq[Long]): Map[String, Metric] = {
    val sorted = snapshotJobs.sorted.toArray
    def missed(s: GetLoad#Sample): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, s.startMs)
      val j = if (i >= 0) i else -i - 1
      j < sorted.length && sorted(j) <= s.endMs
    }
    val (miss, hit) = samples.partition(missed)
    def med(xs: Seq[GetLoad#Sample]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.latencyMs))
    Map(
      "catalog.snapshot_miss_share" -> Metric(miss.length.toDouble / math.max(1, samples.length), "share"),
      "serve.get_hit_ms" -> Metric(med(hit), "ms"),
      "serve.get_miss_ms" -> Metric(med(miss), "ms"),
      "load.get_lag_ms" -> Metric(if (samples.isEmpty) 0.0 else Stats.median(samples.map(_.lagMs)), "ms"))
  }

  /** GET latency as users see it: the median and the tail. */
  def getLatency(samples: Seq[GetLoad#Sample]): (Map[String, Metric], Map[String, Any]) = {
    val lat = samples.map(_.latencyMs)
    val (p, tail, n) = Stats.tail(lat)
    (Map("serve.get_p50_ms" -> Metric(Stats.median(lat), "ms"), "serve.get_tail_ms" -> Metric(tail, "ms")),
      Map("get_tail_percentile" -> p, "get_samples" -> n))
  }

  /** Every directory's data-file bytes below `path` (local filesystem). */
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(g => bytesUnder(g.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()
  }
}

/** The snapshot-load job starts a traced run observed. */
final class SnapshotJobs extends org.apache.spark.scheduler.SparkListener {
  val starts = new ConcurrentLinkedQueue[Long]()
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty(Ctx.SnapshotProp) != null) {
      starts.add(e.time); ()
    }
}

/** Kernel section of a traced run: rows/s of each native expression,
  * called through its SQL-registered name over a fixed cached frame
  * built from the curation corpus (documents and embeddings), in
  * `curation`'s traced run.
  */
object Kernels {
  val Exprs: Seq[(String, String, String)] = Seq(
    ("minhash_signature", "docs", "minhash_signature(text, 3, 6)"),
    ("shingle_array", "docs", "shingle_array(text, 3)"),
    ("shingle_jaccard", "docs", "shingle_jaccard(text, text_b, 3)"),
    ("simhash64", "docs", "simhash64(text)"),
    ("cosine_sim", "vecs", "cosine_sim(embedding, embedding_b)"),
    ("pq_adc", "vecs", "pq_adc(query, codes, codebooks, 16)"),
    ("bpe_encode", "docs", "bpe_encode(text, array('t h', 'th e', 'a n', 'b a', 'k a', 'l e', 'm i', 'n o', 's a', 't e'))"),
    ("repetition_stats", "docs", "repetition_stats(text, 2)"))

  /** The section's metrics, and `functions.section_s`, its wall time
    * (kept in the record; it is no per-layer metric).
    */
  def run(ctx: Ctx, reps: Int = 3): Map[String, Metric] = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val seed = ctx.args.seed
    // the curation replica's 2000 documents, each paired with its
    // successor, and its 2000 embeddings paired likewise; each row repeated
    // (48k rows each) so that one timed call runs well above Spark's
    // per-job floor
    def repeated(df: DataFrame, n: Int) = df.withColumn("__r", explode(sequence(lit(1), lit(n)))).drop("__r")
    val docs0 = QueryPasses.replica(ctx, "documents").select("doc_id", "text")
    val docs = repeated(docs0.join(docs0.select((col("doc_id") - 1).as("doc_id"), col("text").as("text_b")),
      "doc_id"), 24).cache()
    val d = 64
    val m = 8
    val ks = 16
    val codebooks = typedLit((0 until m * ks).map { i =>
      (0 until d / m).map(j => ((Gen.mix(seed, 90, i, j) % 1000).toDouble / 5000.0))
    })
    val vecs0 = QueryPasses.replica(ctx, "embeddings").select("vec_id", "embedding")
    val vecs = repeated(vecs0.join(vecs0.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("embedding_b")), "vec_id")
      .withColumn("codebooks", codebooks)
      .withColumn("codes", expr(s"pq_encode(transform(embedding, x -> cast(x as double)), codebooks, $ks)"))
      .withColumn("query", expr("transform(embedding_b, x -> cast(x as double))")), 24)
      .cache()
    val frames = Map("docs" -> docs, "vecs" -> vecs)
    val rows = frames.map { case (k, f) => k -> f.count() }
    try Exprs.map { case (name, frame, e) =>
      val f = frames(frame).selectExpr(s"$e AS out")
      f.write.format("noop").mode("overwrite").save() // warm the kernel's codegen
      val ts = (1 to reps).map { _ =>
        val t = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      s"functions.$name.rows_per_s" -> Metric(rows(frame) / Stats.median(ts), "1/s")
    }.toMap + ("functions.section_s" -> Metric((System.nanoTime() - t0) / 1e9, "s"))
    finally frames.values.foreach(_.unpersist(blocking = true))
  }
}
