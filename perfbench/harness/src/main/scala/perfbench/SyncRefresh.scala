package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.etl.{AsyncExport, Ingest, Refresh}

/** `sync_refresh`: duva's product path. One closed-loop client POSTs
  * `/api/v1/files/{id}/sync` to an in-process `Serve`; the sync body runs
  * `AsyncExport.syncExport` over an in-process transport (every fourth
  * sync of a form merges a delta through `Refresh.incremental` instead)
  * and then `MetaStore.recordSyncResult`. A second thread GETs the
  * catalog open-loop at a fixed rate.
  *
  * Syncs run in whole rounds: round r syncs every form once, in a fixed
  * order, form f at phase (r + f) mod 4 (phases 0..2 full exports, 3 the
  * delta), so which forms merge rotates from round to round. Sizes and
  * the round schedule are the same for every seed.
  */
object SyncRefresh {

  val NForms = 8

  /** The read client's fixed rate, in GETs per second (an assumed load:
    * nothing in the reference app fixes a read rate).
    */
  val GetRatePerS = 10.0

  /** A round's length on a 4-core host, which sets rounds per run. */
  val NominalRoundS = 15.0

  private final case class Sync(form: Int, phase: Int, postS: Double, cpuS: Double, bodyS: Double,
                                rows: Long, csvBytes: Long, extractBytes: Long,
                                ok: Boolean, startMs: Long, endMs: Long, traced: Boolean) {
    def incremental: Boolean = phase == 3
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val work = a.work
    // ---- set-up: exports, catalog, HTTP shell -------------------------------
    val forms = Gen.forms(a.seed, NForms)
    val exports = scala.collection.mutable.Map[(Int, Int), Gen.Export]()
    def exportOf(fi: Int, phase: Int): Gen.Export =
      exports.getOrElseUpdate((fi, phase), Gen.export(a.seed, forms(fi), phase, s"$work/exports"))
    // the first round's files, and the phase-2 exports the first round's
    // merges apply to, are generated before the window, one thread per
    // core (each export is a pure function of seed, form and phase)
    val genStart = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val first = forms.indices.map(fi => (fi, fi % 4)) ++ forms.indices.filter(_ % 4 == 3).map((_, 2))
      first.map(k => k -> pool.submit(new java.util.concurrent.Callable[Gen.Export] {
        def call(): Gen.Export = Gen.export(a.seed, forms(k._1), k._2, s"$work/exports")
      })).foreach { case (k, f) => exports(k) = f.get() }
    } finally pool.shutdown()
    val exportsS = (System.nanoTime() - genStart) / 1e9
    val extract = (f: Int) => s"$work/extracts/form$f"
    val store = new ctx.MarkedStore(s"$work/catalog")
    store.initHyperFiles(forms.map(f => ctx.fileRow(f.fileId, f.formId, s"form${f.idx}.parquet")))

    // the client names the (form, phase) it is about to trigger; the sync
    // body runs on the HTTP server's thread and reads it from here
    @volatile var pending: (Int, Int) = (-1, -1)
    @volatile var bodyS = 0.0
    @volatile var bodyRows = 0L
    @volatile var bodyErr: Option[String] = None
    val byFileId = forms.map(f => f.fileId -> f).toMap

    def syncBody(fileId: Long): Unit = ctx.span("sync") {
      val f = byFileId(fileId)
      val (fi, phase) = pending
      require(fi == f.idx, s"sync of form ${f.idx} while form $fi was requested")
      val t0 = System.nanoTime()
      val at = new java.sql.Timestamp(1700000000000L + phase * 1000L)
      val ex = exportOf(fi, phase)
      val res =
        try {
          val n =
            if (phase == 3) {
              val (dl, tb) = ctx.span("etl.infer") {
                (Ingest.readCsv(spark, ex.csv), Ingest.readCsv(spark, ex.tombCsv.get))
              }
              ctx.span("etl.merge") { Refresh.incremental(spark, dl, extract(fi), Seq("_id"), Some(tb)) }
            } else {
              val poll = (_: String) => AsyncExport.PollResult.Accepted("SUCCESS", None, Some(ex.csv))
              val fetch = (p: String) => Some(p)
              val url = s"export_async.json?format=csv&form=${f.formId}"
              // a traced sync runs syncExport's three steps itself, to
              // time inference and commit apart
              if (ctx.tracing) {
                val got = AsyncExport.downloadExport(url, poll, fetch, _ => ())
                val df = ctx.span("etl.infer") { Ingest.readCsv(spark, got) }
                ctx.span("etl.commit") { Refresh.overwriteStaged(df, extract(fi)) }
              } else AsyncExport.syncExport(spark, url, poll, fetch, _ => (), extract(fi))
            }
          Right(n)
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      ctx.span("catalog.record_sync") {
        store.recordSyncResult(f.fileId, res.isRight, at, res.left.getOrElse(""))
      }
      bodyS = (System.nanoTime() - t0) / 1e9
      bodyRows = res.getOrElse(0L)
      bodyErr = res.left.toOption
    }

    val (serve, base) = ctx.startServe(store, syncBody, m => extract(m.id.toInt - 1))
    val syncs = ArrayBuffer[Sync]()
    val failures = ArrayBuffer[String]()
    try {
      /** Re-read a committed extract (untimed) and compare it with the
        * generator's expectation: rows, names, collapsed types, and
        * per-column checksums.
        */
      def check(fi: Int, phase: Int): Option[String] = {
        val exp = exportOf(fi, phase).expected
        val df = spark.read.parquet(extract(fi))
        val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
        val what = s"form $fi phase $phase"
        if (types.keySet != exp.kinds.keySet) return Some(s"$what: columns differ")
        val bad = exp.kinds.collect { case (c, k) if types(c) != k => s"$c ${types(c)}!=$k" }
        if (bad.nonEmpty) return Some(s"$what: types ${bad.take(3).mkString(", ")}")
        val (rows, sum) = Gen.extractSum(df)
        if (rows != exp.rows) Some(s"$what: rows $rows != ${exp.rows}")
        else if (sum != exp.sum) Some(s"$what: checksum differs")
        else None
      }

      def syncOnce(fi: Int, phase: Int, traced: Boolean, checked: Boolean = true): Sync = {
        pending = (fi, phase)
        bodyErr = Some("sync body did not run")
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val c0 = ctx.cpuS
        val (code, _) =
          try ctx.http("POST", s"$base/api/v1/files/${forms(fi).fileId}/sync")
          catch { case e: Exception => (-1, e.getMessage) }
        val postS = (System.nanoTime() - t0) / 1e9
        val cpuS = ctx.cpuS - c0
        val endMs = System.currentTimeMillis()
        val err = bodyErr.orElse(if (code != 200) Some(s"HTTP $code") else None)
          .orElse(if (checked) check(fi, phase) else None)
        err.foreach(e => failures += e)
        ctx.clearAll()
        Sync(fi, phase, postS, cpuS, bodyS, bodyRows, exportOf(fi, phase).bytes,
          Layers.bytesUnder(extract(fi)), err.isEmpty, startMs, endMs, traced)
      }

      // the extracts the first round merges into exist before the window,
      // as they would on a running cron; these syncs also warm the JIT, and
      // the merges that follow check the state they left
      val primed = forms.indices.filter(_ % 4 == 3).map(fi => syncOnce(fi, 2, traced = false, checked = false))
      val setupS = ctx.sinceStartS
      val setupCpuS = ctx.cpuS

      // ---- measurement ------------------------------------------------------
      val t0 = System.nanoTime()
      // whole rounds, as many as fit --seconds at the nominal round length,
      // so a faster or slower host changes the times, never the work. A
      // traced run makes round 0 four times: a warm-up, then untraced,
      // traced and untraced again, so the rounds either side of the traced
      // one do the same syncs untraced and give the time the overhead
      // share compares against (a merge re-applied onto its own result
      // leaves as many rows and the same state). The GET load restarts at
      // each phase, so its samples split the same way.
      val rounds0 = math.max(if (a.trace) 4 else 1, math.round(a.seconds / NominalRoundS).toInt)
      var load = new GetLoad(ctx, base, forms.map(_.fileId), GetRatePerS).start()
      val getPhases = ArrayBuffer[(Boolean, Seq[GetLoad#Sample])]()
      val roundS = ArrayBuffer[Double]()
      var round = 0
      while (round < rounds0) {
        val traced = a.trace && round == 2
        if (a.trace && (round == 2 || round == 3)) {
          getPhases += ((round == 3, load.stop()))
          load = new GetLoad(ctx, base, forms.map(_.fileId), GetRatePerS).start()
        }
        ctx.setTracing(traced)
        // a fixed order (each round starts three forms later), so the seed
        // moves what is synced, not where in the window it lands
        val r = if (a.trace) 0 else round
        val order = forms.indices.map(i => (i + 3 * r) % NForms)
        val done = order.map(fi => syncOnce(fi, (r + fi) % 4, traced))
        syncs ++= done
        roundS += done.map(_.postS).sum
        round += 1
      }
      ctx.setTracing(false)
      getPhases += ((false, load.stop()))
      val windowS = (System.nanoTime() - t0) / 1e9
      val measured = syncs.filter(_.traced == a.trace).toSeq
      val gets = getPhases.flatMap(_._2).toSeq
      val getSamples = getPhases.filter(_._1 == a.trace).flatMap(_._2).toSeq

      // ---- metrics ------------------------------------------------------------
      val post = measured.map(_.postS)
      val (tailP, tail, n) = Stats.tail(post)
      val (getM, getD) = Layers.getLatency(getSamples)
      val byForm = measured.groupBy(s => (s.form, s.phase)).values
      val rounds = measured.length.toDouble / NForms
      // times in CPU seconds of this JVM (see Ctx.cpuS); wall times stay
      // in the record
      val e2e = Map(
        "setup_s" -> Metric(setupCpuS, "s"),
        "pass_cpu_s" -> Metric(measured.map(_.cpuS).sum / rounds, "s"),
        "op_geomean_cpu_s" -> Metric(Stats.geomean(byForm.map(g => Stats.median(g.map(_.cpuS))).toSeq), "s"),
        "extract_bytes_per_row" -> Metric(
          measured.map(_.extractBytes).sum.toDouble / measured.map(_.rows).sum, "B/row"))

      val layers = if (!a.trace) Map.empty[String, Metric] else {
        val tape = ctx.tape
        val w = measured.map(s => tape.window(s.startMs, s.endMs)).foldLeft(EngineWindow.Zero)(_ + _)
        def med(name: String) = { val xs = ctx.spanSeconds(name); if (xs.isEmpty) 0.0 else Stats.median(xs) }
        Map(
          "etl.infer_s" -> Metric(med("etl.infer"), "s"),
          "etl.commit_s" -> Metric(med("etl.commit"), "s"),
          "etl.merge_s" -> Metric(med("etl.merge"), "s"),
          "etl.jobs_per_sync" -> Metric(w.jobs.toDouble / measured.length, "count"),
          "etl.input_bytes_per_csv_byte" -> Metric(w.inputBytes.toDouble / measured.map(_.csvBytes).sum, "ratio"),
          "catalog.record_sync_s" -> Metric(med("catalog.record_sync"), "s"),
          "serve.sync_overhead_ms" -> Metric(Stats.median(measured.map(s => (s.postS - s.bodyS) * 1e3)), "ms"),
          // rounds 1 and 3 made the same syncs as the traced round 2
          "trace.overhead_share" -> Metric(roundS(2) / ((roundS(1) + roundS(3)) / 2) - 1, "share")
        ) ++ Layers.engine(w, measured.length) ++
          Layers.gets(getSamples, ctx.snapshotJobs.starts.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq) ++
          getM
      }

      val all = primed ++ syncs
      val failedGets = gets.count(!_.ok)
      Outcome(all.length + gets.length, all.count(!_.ok) + failedGets,
        failures.toSeq ++ (if (failedGets > 0) Seq(s"$failedGets GETs failed") else Nil),
        if (a.trace) layers else e2e,
        Map("setup_wall_s" -> setupS, "exports_s" -> exportsS, "window_s" -> windowS, "rounds" -> rounds,
          "round_s" -> roundS.toSeq, "syncs" -> syncs.length, "pass_s" -> post.sum / rounds,
          "op_geomean_s" -> Stats.geomean(byForm.map(g => Stats.median(g.map(_.postS))).toSeq),
          "rows_per_s" -> measured.map(_.rows).sum / post.sum,
          "incremental_syncs" -> syncs.count(_.incremental),
          "sync_p50_s" -> Stats.median(post), "sync_tail_s" -> tail,
          "sync_tail_percentile" -> tailP, "sync_samples" -> n,
          "rows_committed" -> measured.map(_.rows).sum,
          "sync_s" -> measured.map(s => Map("form" -> s.form, "phase" -> s.phase, "post_s" -> s.postS,
            "cpu_s" -> s.cpuS, "body_s" -> s.bodyS, "rows" -> s.rows)),
          "gets" -> getSamples.length, "get_rate_per_s" -> GetRatePerS,
          "get_mix" -> "alternate GET /api/v1/files?skip=i&limit=5 and GET /api/v1/files/{id}") ++ getD ++
          (if (a.trace) Map.empty else getM.map { case (k, v) => k -> v.value }) ++
          (if (a.trace) e2e.map { case (k, v) => s"e2e_traced.$k" -> v.value } ++
            Map("spans" -> ctx.spanRecords) else Map.empty),
        Map("forms" -> forms.map(f => Map("form" -> f.idx, "columns" -> f.cols.length, "rows" -> f.rows)),
          "csv_files" -> exports.size, "csv_bytes" -> exports.values.map(_.bytes).sum,
          "csv_crc32" -> exports.toSeq.sortBy(_._1).map { case ((f, p), e) => s"form$f/phase$p" -> e.crc }.toMap))
    } finally serve.stop()
  }

  /** Input checksums of every export (for the benchmark's seed tests). */
  def checksums(seed: Long, work: String): Map[String, Any] = {
    val forms = Gen.forms(seed, NForms)
    forms.flatMap(f => (0 to 3).map(p =>
      s"form${f.idx}/phase$p" -> Gen.export(seed, f, p, s"$work/exports").crc)).toMap
  }
}
