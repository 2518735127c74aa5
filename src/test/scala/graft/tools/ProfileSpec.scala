package graft.tools

import graft.SparkSpec

/** Pins `Profile`'s output contract — one parseable JSON line per query
  * with every field, counters consistent with a real shuffle query — and
  * that profiling leaves no cache behind.
  */
class ProfileSpec extends SparkSpec {

  private val Fields = Seq("query", "data_dir", "cpus", "wall_s",
    "spark.jobs", "spark.stages", "spark.shuffle_stages", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "slowest_stages", "plan")

  // q_semantic_dedup shuffles (one exchange on the IVF cell) AND
  // persists its result, so both the counters and the cache release are
  // exercised
  test("one JSON line per query with every field; counters of a shuffle query; no cache left") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val line = Profile.profile(spark, "q_semantic_dedup", sf, reps = 2)
    assert(!line.contains("\n"), "the record must be ONE line")
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    Fields.foreach(f => assert(j.has(f), s"missing field $f in $line"))
    assert(j.get("query").asText == "q_semantic_dedup")
    assert(j.get("wall_s").size == 2, "one wall time per timed run")
    val best = (0 until 2).map(i => j.get("wall_s").get(i).asDouble).min
    assert(j.get("spark.jobs").asInt >= 1)
    assert(j.get("spark.shuffle_stages").asInt >= 1)
    assert(j.get("spark.stages").asInt >= j.get("spark.shuffle_stages").asInt)
    assert(j.get("spark.shuffle_write_bytes").asLong > 0L)
    val gap = j.get("spark.driver_gap_s").asDouble
    assert(gap >= 0.0 && gap <= best, s"driver gap $gap outside [0, $best]")
    assert(j.get("slowest_stages").size >= 1)
    assert(j.get("slowest_stages").get(0).has("callsite"))
    assert(j.get("plan").asText.contains("Exchange"),
      "the formatted plan of a shuffle query names its exchange")
    // the ContextCleaner may drop a PRE-EXISTING entry concurrently, so
    // compare id sets: only a NEW surviving id is a leak
    assert(spark.sharedState.cacheManager.isEmpty, "a cached frame survived the profile")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs survived the profile: $leaked")
  }

  test("driver gap is the wall time outside the union of stage intervals") {
    def st(a: Long, b: Long) =
      Profile.Stage(0, a, b, shuffleMap = false, 1, 0L, 0L, 0L, 0L, 0L, 0L, "", "")
    // window [1000, 3000]: stages cover 1200-1800 (overlapping pair) and
    // 2500-3500 (clipped at 3000) → 1.1 s covered of 2 s
    val run = Profile.Run(2.0, 1000L, 3000L, 1,
      Seq(st(1200, 1600), st(1400, 1800), st(2500, 3500)), "")
    assert(math.abs(run.driverGapS - 0.9) < 1e-9)
    assert(Profile.Run(1.0, 0L, 1000L, 0, Seq.empty, "").driverGapS == 1.0)
  }
}
