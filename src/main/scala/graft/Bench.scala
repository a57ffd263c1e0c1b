package graft

/** Benchmark main (driver contract): runs every `SparkEntry.queries`
  * entry against `SPARK_GRAFT_SF_DIR`, writes the full per-query JSON
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"errors":{...},"sf":...}`
  * to `bench_results.json`, and ends stdout with a short summary line
  * `{"metric":"total","value":N,"unit":"sec","families":{"dd":..},"errors":n,...}`
  * (per-family sums by query-name prefix) that a log scraper can parse.
  *
  * Methodology (round-2 hardening):
  *   - each query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3) and
  *     reports the per-query MEDIAN — a single run on a shared VM is
  *     scheduler-noise-bound and unfalsifiable;
  *   - queries execute in stable (sorted-by-name) order so runs are
  *     comparable across rounds;
  *   - a failing query is NOT swallowed into a plausible timing: its
  *     error lands in an "errors" object and the process exits 1 after
  *     printing, so a broken build can never masquerade as a fast one.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = SparkEntry.localSession()
    // Warm the session (task scheduling, codegen compiler, parquet
    // reader pools) so the first measured query isn't charged for
    // one-time JVM initialization.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // Dev loop: SPARK_GRAFT_BENCH_ONLY=dd04,dd06 restricts the run to a
    // comma-separated subset (driver contract unchanged: default = all).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(o => o.exists(n.startsWith)))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // Golden-plan tripwire (PlanSpec's pin re-asserted HERE so a
    // Spark/AQE change that silently reshapes a pinned topology fails
    // the bench run loudly, not just the test suite): counters are
    // compiled — never executed — at sf0.001, the scale the golden was
    // generated at (join strategies are stats-based, so comparing at
    // the bench SF would false-alarm). Drift lands in the errors
    // object => exit 1 after the timings print.
    val goldenDir = "/root/testdata/sf0.001"
    if (PlanShape.goldenFile.exists && new java.io.File(goldenDir).exists
        && !sys.env.contains("SPARK_GRAFT_BENCH_NO_PLANCHECK")) {
      val golden = {
        val src = scala.io.Source.fromFile(PlanShape.goldenFile, "UTF-8")
        try src.getLines().map { l =>
          val i = l.indexOf(' '); l.substring(0, i) -> l.substring(i + 1)
        }.toMap finally src.close()
      }
      spark.sharedState.cacheManager.clearCache()
      names.foreach { name =>
        golden.get(name).foreach { pinned =>
          val live = PlanShape.signature(SparkEntry.queries(name)(spark, goldenDir)
            .queryExecution.executedPlan.toString)
          if (live != pinned)
            errors.getOrElseUpdate(name,
              s"planDrift: live[$live] != golden[$pinned]")
        }
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val medians = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).flatMap { _ =>
        // Clear BEFORE each run, not once per query: the operators'
        // internal persist()s (dd02 signatures, ss05 assignment) are
        // plan-matched, so run 2 would otherwise read run 1's cache
        // and report an optimistic median that a fresh query never
        // sees. Every measured run pays the query's full cost.
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
            None
        }
      }
      spark.sharedState.cacheManager.clearCache()
      // LOWER median: on a shared VM, scheduler noise is one-sided (it
      // only ever ADDS time), so for even n the lower middle value is
      // the unbiased pick — size/2 would let a single noisy run out of
      // two masquerade as the query's cost (ss05 read 101 s in a
      // driver n=2 run whose quiet median is 1.2 s).
      val med =
        if (times.isEmpty) -1.0
        else times.sorted.apply((times.size - 1) / 2)
      name -> med
    }

    // stdout of a Spark run is log-interleaved and a ~7 KB last line
    // has defeated log scrapers before (BENCH_r04 "parsed: null"): the
    // file carries the full result, stdout ends with the short summary
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (resultLine(medians, errors, runs, sfDir) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"bench: could not write $out: $e") }
    errors.foreach { case (k, v) => System.err.println(s"bench: $k failed: $v") }
    println(summaryLine(medians, errors.size, runs, sfDir))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** A failed query's median is -1 and counts in no total. */
  private def total(medians: Seq[(String, Double)]): Double =
    medians.collect { case (_, v) if v >= 0 => v }.sum

  /** The full result: every query's median and every error message. */
  private[graft] def resultLine(medians: Seq[(String, Double)],
                                errors: collection.Map[String, String],
                                runs: Int, sfDir: String): String = {
    val qs = medians.map { case (k, v) => s"${Json.string(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Json.string(k)}:${Json.string(v)}" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${total(medians)},"unit":"sec","runs":$runs,""" +
      s""""queries":$qs,"errors":$errJson,"sf":${Json.string(sfDir)}}"""
  }

  /** The stdout summary: the total, its sums per query family (the
    * name's letter prefix: dd, ss, tx, q, ...) and the error count. */
  private[graft] def summaryLine(medians: Seq[(String, Double)], nErrors: Int,
                                 runs: Int, sfDir: String): String = {
    val families = medians.groupBy(_._1.takeWhile(_.isLetter)).toSeq.sortBy(_._1)
      .map { case (f, ms) => s"${Json.string(f)}:${total(ms)}" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${total(medians)},"unit":"sec","runs":$runs,""" +
      s""""families":$families,"errors":$nErrors,"sf":${Json.string(sfDir)}}"""
  }
}
