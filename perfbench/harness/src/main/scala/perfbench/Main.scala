package perfbench

/** One benchmark run in one JVM: `--workload sync_refresh|extract_sql|
  * curation|checksums --seed N --seconds S --trace 0|1 --work DIR --out
  * FILE`. Writes the run's record as JSON to FILE; `run.py` adds the
  * DuckDB oracle comparison and prints the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val a = Args.parse(argv)
    new java.io.File(a.work).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.local(cpus, "perfbench")
    val sessionS = (System.nanoTime() - startNs) / 1e9
    val env = Map(
      "cores" -> cpus, "master" -> spark.sparkContext.master,
      "heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "session_start_s" -> sessionS)
    val record: Map[String, Any] =
      try a.workload match {
        case "checksums" =>
          val ctx = new Ctx(spark, a, startNs)
          Map("csv" -> SyncRefresh.checksums(a.seed, a.work),
            "replica_dir" -> s"${a.work}/replica",
            "replica" -> QueryPasses.commitReplica(ctx, s"${a.work}/replica", Gen.Tables))
        case w =>
          val ctx = new Ctx(spark, a, startNs)
          val o = if (w == "sync_refresh") SyncRefresh.run(ctx) else QueryPasses.run(ctx)
          Map("workload" -> w, "attempted" -> o.attempted, "failed" -> o.failed,
            "failures" -> o.failures.take(50),
            "metrics" -> o.metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
            "detail" -> o.detail, "inputs" -> o.inputs)
      } finally spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Report.json(record + ("env" -> env)))
  }
}
