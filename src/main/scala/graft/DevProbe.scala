package graft
import org.apache.spark.sql.SparkSession
/** Dev utility. Modes:
  *   - `<query> <sfDir> [explain]` — time one registered query,
  *     construction included (several queries run actions while their
  *     frame is built), through a noop write; `explain` also prints the
  *     formatted plan;
  *   - `--plans` — dump every registered query's plan for PLANS.md;
  *   - `--scale [sfDir] [q1,q2,...]` — per-query shuffle profile (SCALE.md);
  *   - `--scalegen`, `--scalegen-part`, `--scalegen-events` — write the
  *     decorrelated blowup corpora the scaling measurements run on.
  * Kernel A/Bs are graftbench's trace-1 `plans.<fn>.ns_per_row`. */
object DevProbe {
  /** Decorrelated `events` blowup: each of the `mult` replicas re-keys
    * user_id and event_id (`old*mult+rep`), keeping every user's event
    * SEQUENCE (types, timestamps, values) intact — the realistic
    * product-analytics growth model is MORE USERS over the same
    * calendar window, not longer per-user histories, so per-user state
    * (funnel chains, activity-day sets, RFM triples) stays constant
    * while the user domain and every user_id shuffle grow `mult`x.
    * Re-keying also decorrelates the md5-hash derivations (ts26's arm
    * assignment, sampling buckets): replicas are new users, not copies
    * that all land in one arm. */
  private def blowEvents(spark: SparkSession, src: String, out: String,
                         mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val rep = explode(sequence(lit(0), lit(mult - 1))).as("rep")
    Tables.events(spark, src)
      .select(col("*"), rep)
      .select(
        (col("event_id") * mult + col("rep")).as("event_id"),
        col("ts"),
        (col("user_id") * mult + col("rep")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession()
    if (args(0) == "--plans") {
      // EVERY registered query, alphabetically — derived from the
      // registry itself so PLANS.md can never trail a new query (the
      // r9 dump hand-listed keys and missed the four newest).
      val d = "/root/testdata/sf0.001"
      SparkEntry.queries.keys.toSeq.sorted
        .foreach { n =>
          println(s"\n## $n\n")
          println("```")
          println(SparkEntry.queries(n)(spark, d).queryExecution
            .explainString(org.apache.spark.sql.execution.SimpleMode))
          println("```")
        }
    } else if (args(0) == "--scale") {
      // Measured scale profile: shuffle volume, map-side combine
      // amplification, per-task skew, and spill for every registered
      // query at the given SF — evidence for the 100x question, not
      // claims. Output = markdown table (SCALE.md).
      val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
      // optional third arg: comma-separated subset of the registry
      val only = args.lift(2).map(_.split(",").toSet)
      println("| query | input rows | shuffle rows written | amplification ‰ | max-task shuffle share ‰ | spill MB |")
      println("|---|---|---|---|---|---|")
      SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n))).foreach { n =>
        spark.sharedState.cacheManager.clearCache()
        val (_, m) = Metrics.measure(spark) {
          SparkEntry.queries(n)(spark, d)
            .write.format("noop").mode("overwrite").save()
        }
        println(s"| $n | ${m.inputRecords} | ${m.shuffleRecordsWritten} | " +
          s"${m.shuffleAmplificationMilli} | ${m.shuffleSkewMilli} | " +
          s"${(m.diskBytesSpilled + m.memoryBytesSpilled) / (1024 * 1024)} |")
      }
    } else if (args(0) == "--scalegen") {
      // Decorrelated corpus blowup for scaling-exponent measurements
      // (--scalegen <srcDir> <outDir> <mult>): each of the `mult`
      // replicas re-keys ids, suffixes every word, and shifts every
      // embedding element, so replicas are NEW content — dup/near-dup
      // density stays CONSTANT as the corpus grows (the realistic
      // growth model). Naive replication would instead grow every dup
      // cluster by `mult` and quadratically inflate the pair-verify
      // stages, measuring a data artifact rather than the operator.
      import org.apache.spark.sql.functions._
      val (src, out, mult) = (args(1), args(2), args(3).toInt)
      val rep = explode(sequence(lit(0), lit(mult - 1))).as("rep")
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("*"), rep)
        .select(
          (col("doc_id") * mult + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(array_join(transform(split(col("text"), " "),
              w => concat(w, lit("#"), col("rep"))), " ")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // Replica vectors are FRESH hash-derived pseudo-random vectors,
      // not perturbations: a shifted copy keeps cosine ~0.7+ to its
      // original — above near-dup thresholds — so every replica set
      // would form a mult-wide near-dup cluster and the pair stages
      // would measure that data artifact, quadratic by construction.
      spark.read.parquet(s"$src/embeddings.parquet")
        .select(col("*"), rep)
        .select(
          (col("vec_id") * mult + col("rep")).as("vec_id"),
          when(col("rep") === 0, col("embedding"))
            .otherwise(transform(col("embedding"), (_, j) =>
              ((pmod(hash(col("vec_id"), col("rep"), j), lit(201))
                .cast("float") - 100f) * lit(0.00125f)).cast("float")))
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      blowEvents(spark, src, out, mult)
      println(s"scalegen done: $out x$mult")
    } else if (args(0) == "--scalegen-part") {
      // Scaled NAME REGISTRY for the dd17/fuzzyPairs saturation
      // measurement (args: --scalegen-part <srcDir> <outDir> <mult>).
      // Unlike documents (where --scalegen suffixes every word so
      // near-dup density stays constant), a fuzzy-match registry must
      // grow the REALISTIC way: new names drawn from the SAME
      // vocabulary (TPC-H p_name = 5 words from a 92-word list; real
      // registries grow sublinearly in vocabulary by Heaps' law) — the
      // char-gram key domain stays alphabet-bounded while the name
      // count grows, which is exactly the block-saturation regime the
      // fuzzyGramWidthFor contract exists for. Suffix-style
      // decorrelation would grow the vocab 64x and dodge the knee by
      // construction. Replicas keep rep 0 verbatim and synthesize
      // rep>0 names as 5 hash-picked words from the 1x vocabulary
      // (hash(partkey, rep, position) — deterministic, decorrelated).
      import org.apache.spark.sql.functions._
      val (src, out, mult) = (args(1), args(2), args(3).toInt)
      val part = spark.read.parquet(s"$src/part.parquet")
      val vocab = part.select(explode(split(col("p_name"), " ")).as("w"))
        .distinct().orderBy(col("w")).collect().map(_.getString(0))
      val vlit = array(vocab.map(lit): _*)
      val rep = explode(sequence(lit(0), lit(mult - 1))).as("rep")
      part.select(col("*"), rep)
        .select(
          (col("p_partkey") * mult + col("rep")).as("p_partkey"),
          when(col("rep") === 0, col("p_name"))
            .otherwise(array_join(transform(sequence(lit(0), lit(4)), i =>
              element_at(vlit, pmod(hash(col("p_partkey"), col("rep"), i),
                lit(vocab.length)) + 1)), " ")).as("p_name"),
          col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      println(s"scalegen-part done: $out x$mult (vocab ${vocab.length})")
    } else if (args(0) == "--scalegen-events") {
      // Regenerate ONLY the events table of an existing blowup dir
      // (args: --scalegen-events <srcDir> <outDir> <mult>) — the r8/r9
      // dirs copied events 1:1; the product-analytics blowup rows
      // (ts21/ts22/ts24/ts26/ts27, funnelStream) need it replicated.
      blowEvents(spark, args(1), args(2), args(3).toInt)
      println(s"scalegen-events done: ${args(2)} x${args(3)}")
    } else {
      // Construction-INCLUSIVE, like Bench's timer: queries that run
      // actions while their frame is built (the dd06/dd18 CC fixpoint
      // counts, ss29's checkpointed greedy steps, tx27's training
      // rounds) would otherwise do most of their work before the clock
      // starts. noop WRITE, not count(): count() lets Catalyst prune
      // payload columns and even eliminate whole join sides (a
      // unique-keyed left join contributes nothing to the row count —
      // tx18's span side vanished and the probe under-measured 60x).
      // The noop sink materializes every output column, like Bench.
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(args(0))(spark, args(1))
      df.write.format("noop").mode("overwrite").save()
      println("FULL=done in " + (System.nanoTime() - t0) / 1e9 + "s")
      if (args.length > 2) df.explain("formatted")
    }
  }
}
