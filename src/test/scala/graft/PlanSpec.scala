package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions: the optimizations SURVEY.md §4 promises must
  * actually appear in the physical plan, not just in comments. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02 pushes filters and prunes columns at the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), "expected parquet PushedFilters")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter should reach the scan:\n$p")
    // only the needed columns are read (6 of 11: projection + filter cols)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice"),
      s"projection should prune the scan schema:\n$p")
  }

  test("q04 dimension joins are broadcast, not shuffled") {
    val p = plan("q04_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join expected for dims")
  }

  test("q05 top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("q05_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q01 aggregation is partial (map-side) before the shuffle") {
    val p = plan("q01_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected partial aggregation:\n$p")
  }

  test("native expressions compile under strict codegen (no silent fallback)") {
    // With fallback disabled a codegen compile error throws instead of
    // silently degrading to interpreted eval (caught a real collision
    // where three dot products shared one stage).
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import graft.functions.VectorFunctions
      val e = Tables(spark, sfDir, "embeddings")
      val q = e.limit(1).select(org.apache.spark.sql.functions.col("embedding").as("q_emb"))
      val n = e.crossJoin(org.apache.spark.sql.functions.broadcast(q))
        .select(VectorFunctions.cosine(col("embedding"), col("q_emb")).as("c"))
        .filter(col("c") > -2).count()
      assert(n > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("every reference-object kernel compiles under strict codegen and matches interpreted eval, nulls included") {
    import graft.plans._
    import org.apache.spark.sql.graft.bridge
    // inputs derive from the range id, so nothing constant-folds: the
    // first run is whole-stage codegen, the second interpreted
    val id = col("id")
    def pick(xs: org.apache.spark.sql.Column*) = element_at(array(xs: _*), (id + 1).cast("int"))
    val text = pick(lit("the cat sat on the mat again and again"), lit(""), lit(null).cast("string"))
    val emb = pick(array(lit(0.5f), lit(-1f), lit(2f), lit(0f)), array(lit(1f), lit(1f), lit(1f), lit(1f)),
      lit(null).cast("array<float>"))
    val cents = pick(
      array(struct(array(lit(1f), lit(0f), lit(2f), lit(0f)).as("cvec"), lit(7).as("c_label")),
        struct(array(lit(0f), lit(-1f), lit(2f), lit(1f)).as("cvec"), lit(3).as("c_label"))),
      lit(null).cast("array<struct<cvec:array<float>,c_label:int>>"),
      array(struct(array(lit(1f)).as("cvec"), lit(1).as("c_label"))))
    val cb = array(Seq(0, 1).map(m => array(Seq(0, 1).map(k =>
      struct(lit(k).as("code"), array(lit(k.toFloat), lit(m.toFloat)).as("svec"))): _*)): _*)
    val shortlist = when(id === 2, lit(null)).otherwise(array(
      struct(id.as("id"), lit(5L).as("rel"), array(lit(1f), lit(0f)).as("emb")),
      struct((id + 10).as("id"), lit(3L).as("rel"), array(lit(0f), lit(1f)).as("emb")),
      struct((id + 20).as("id"), lit(4L).as("rel"), array(lit(0.9f), lit(0.1f)).as("emb"))))
    val df = spark.range(3).select(text.as("text"), split(text, " ").as("toks"),
      emb.as("emb"), cents.as("cents"), cb.as("cb"), shortlist.as("sl"))
    def c(n: String) = bridge.expression(col(n))
    val kernels = Seq(
      WordGramMd5Expr(c("text"), 3), TiledLineHashesExpr(c("text"), 2),
      WinnowTextExpr(c("text"), 3, 4), WordGramXxhTextExpr(c("text"), 3),
      MinHashSigExpr(c("toks")), MinHashWordsExpr(c("toks"), 3), WinnowSelectExpr(c("toks"), 4),
      WordGramHashesExpr(c("toks"), 3), SimHashSigExpr(c("text")), SimHashBandsExpr(c("text")),
      SimHashWideExpr(c("text")), BigramCountsExpr(c("text")), CdcChunksExpr(c("text")),
      CdcCutsExpr(c("text")), LexiconCountsExpr(c("text"), Seq(Seq("the", "on"), Seq("cat"))),
      TokenProfileExpr(c("text"), Seq("the")), MmrPicksExpr(c("sl"), 2),
      PqArgminExpr(c("emb"), c("cb"), 2, 0), PqArgminExpr(c("emb"), c("cb"), 2, 1),
      PqArgminExpr(c("emb"), c("cb"), 2, 2),
      CellArgminExpr(c("emb"), c("cents"), "cvec", "c_label", "d2", "cell"))
    val cols = kernels.map(k => to_json(struct(bridge.column(k).as("v"))).as(k.toString))
    def run(): Seq[Seq[String]] = df.select(cols: _*).collect().toSeq.map(_.toSeq.map(String.valueOf))
    val codegen = try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val p = df.select(cols: _*).queryExecution.executedPlan
      assert(p.find(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).nonEmpty,
        s"kernels must run inside whole-stage codegen:\n$p")
      run()
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    kernels.indices.foreach { k =>
      assert(codegen.map(_(k)) == interpreted.map(_(k)), s"${kernels(k).prettyName}")
    }
  }

  test("ss03/ss05 centroid assignment is a zero-shuffle per-row argmin") {
    // The round-1 crossJoin+row_number form shuffled and sorted the
    // L-times-expanded corpus on vec_id just to take an argmin. The
    // fold form must plan NO window and NO exchange keyed on vec_id —
    // assignment happens per-row against the broadcast centroid array.
    Seq("ss03_pairwise_label", "ss05_ivf_probe").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"), s"$name must not plan a Window:\n$p")
      assert(!p.contains("hashpartitioning(vec_id"),
        s"$name must not shuffle on vec_id for the argmin:\n$p")
    }
  }

  test("dd05 candidates come from an equi-join on LSH band buckets") {
    val p = plan("dd05_embed_neardup")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"dd05 candidate generation must be an equi-join on (band, bkey):\n$p")
    assert(!p.contains("CartesianProduct"), s"dd05 must never be all-pairs:\n$p")
  }

  test("corpus-proportional tables carry no broadcast hint") {
    // A broadcast() hint forces a driver-side collect of the hinted
    // side regardless of its runtime size. For tables that grow with
    // the corpus — LSH candidate pairs (~constant per doc), per-key
    // stats (one row per key) — that collect dies at scale (measured:
    // dd05 failed driver maxResultSize on a 64x corpus blowup before
    // the hint was removed). These plans must stay hint-free so AQE
    // decides from the MATERIALIZED size instead.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("dd04_ngram_jaccard", "dd05_embed_neardup", "dd07_containment",
        "dd08_estimate_audit", "ts15_anomaly", "ss12_incremental_ann").foreach { name =>
      val lp = SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed
      val hinted = lp.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty =>
          j.simpleString(120)
      }
      assert(hinted.isEmpty,
        s"$name must not hint-broadcast a corpus-proportional table:\n${hinted.mkString("\n")}")
    }
  }

  test("v13/v16/v17 tensor ops plan zero exchanges before the output sort") {
    // per-row reshape (rank 2, rank 3, and per-row dyn shape) + axis
    // reduces must all fuse into projections over the scan; the only
    // exchange allowed is the final orderBy (oracle determinism, not
    // part of the operator)
    Seq("v13_tensor2d", "v16_tensor3d", "v17_tensor_dyn").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Window"),
        s"$name must not shuffle for the tensor math:\n$p")
    }
  }

  test("sp01 sampling is a pure filter at the scan (no shuffle, no window)") {
    val p = plan("sp01_stratified_sample")
    assert(!p.contains("Window"), s"sampling must not rank:\n$p")
    assert(!p.contains("hashpartitioning"), s"sampling must not shuffle:\n$p")
  }

  test("dd03 simhash signatures compute at scan speed (native kernel, no vote shuffle)") {
    val p = plan("dd03_simhash")
    assert(p.contains("graft_simhash"), s"expected the native kernel in the plan:\n$p")
    assert(!p.contains("partial_sum"),
      s"signature must not be a 16-column vote aggregation anymore:\n$p")
  }

  test("q24 range join is a hash equi-join on buckets, not a nested loop") {
    val p = plan("q24_range_join")
    assert(p.contains("BroadcastHashJoin"),
      s"bucketized range join must hash-join on the bucket key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must not fall back to a nested loop:\n$p")
  }

  test("ts13 interval join hash-joins on the day bucket, not a nested loop") {
    val p = plan("ts13_interval_join")
    assert(p.contains("BroadcastHashJoin"),
      s"interval join must equi-join on the bucket:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join must not fall back to a nested loop:\n$p")
  }

  test("ss05/ss06 read the cell assignment from cache on both sides of the probe") {
    // The assignment subtree feeds the probe join AND the query-side
    // filter; without the persist it executes twice (the dd02-class
    // recompute defect). Both consumers must scan the InMemoryRelation.
    Seq("ss05_ivf_probe", "ss06_ivf_multiprobe").foreach { name =>
      val p = plan(name)
      val hits = "InMemoryTableScan".r.findAllIn(p).size
      assert(hits >= 2, s"$name must read the persisted assignment on both sides (saw $hits):\n$p")
    }
  }

  test("tx07 scrub is pure per-row compute — no shuffle, no window before the output sort") {
    val p = plan("tx07_pii_scrub")
    assert(!p.contains("Window") && !p.contains("Exchange hashpartitioning"),
      s"redaction must run at scan speed:\n$p")
  }

  test("sp03/px02 prefix sums are two-phase: ranged corpus, broadcast offsets, no SMJ") {
    // The r3 form was one hash shuffle — a Window.partitionBy(source)
    // that funneled each source through ONE task. The two-phase
    // GroupPrefix trades that for bounded-task-size shuffles: the
    // corpus is range-partitioned on (source, h, doc_id) once, the
    // tiny per-(source, pid) offset table comes BACK via broadcast
    // (never a sort-merge join against the corpus), and every
    // corpus-side window is keyed by (source, _pid).
    Seq("sp03_pack_sequences", "px02_mixture_budget").foreach { name =>
      val p = plan(name)
      assert(p.contains("Window"), s"$name needs the running-sum window:\n$p")
      assert(p.contains("Exchange rangepartitioning"),
        s"$name must range-partition the corpus for the two-phase prefix sum:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name must broadcast the per-(source, pid) offsets back:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name must never shuffle the corpus to meet the offset table:\n$p")
    }
  }

  test("v15 matmul is per-row compute over a single pair equi-join") {
    val p = plan("v15_matmul")
    assert(!p.contains("Window"), s"matmul must not rank:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"pair matching must be an equi-join on vec_id:\n$p")
  }

  test("q25 string_agg aggregates partially (map-side) before the shuffle") {
    val p = plan("q25_string_agg")
    assert(!p.contains("Window"), s"listagg must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"expected partial aggregation:\n$p")
  }

  test("tx11 decontam joins the benchmark gram set as a broadcast, never a shuffle on gram") {
    val p = plan("tx11_decontam")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny benchmark gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle on gram for decontam:\n$p")
  }

  test("dd14 prunes the corpus scan with a Bloom probe before any exchange") {
    // The point of dd14 over dd12: the established corpus must be
    // filtered by might_contain AT SCAN (no corpus-wide distinct
    // before the probe), so only survivors reach an Exchange.
    val p = plan("dd14_bloom_incremental")
    assert(p.contains("might_contain"),
      s"corpus side must be Bloom-prefiltered:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the increment join must stay broadcast-size after pruning:\n$p")
  }

  test("ss10 semdedup self-join shares ONE materialization of the cell assignment") {
    // r11: the assignment is a lazy localCheckpoint (blocks release
    // on GC — the knnGraphOf leak-fix discipline), so both join sides
    // must read the SAME checkpointed RDD rather than recompute the
    // centroid pipeline twice
    val p = plan("ss10_semdedup")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).size
    val cacheScans = "InMemoryTableScan".r.findAllIn(p).size
    assert(rddScans >= 2 || cacheScans >= 2,
      s"assignment feeds both sides of the cluster self-join; must be " +
        s"checkpoint- or cache-shared (rdd=$rddScans cache=$cacheScans):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"cluster-mate pairing must be an equi-join on cell:\n$p")
  }

  test("sp04 budgets broadcast back; the corpus shuffles once (per-source window)") {
    val p = plan("sp04_temperature")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source budget table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle to meet the budgets:\n$p")
  }

  test("per-group prefix/rank ops never funnel a whole corpus group through one task") {
    // The one-task-per-source trap: Window.partitionBy(source) (or an
    // unpartitioned Window) directly over the corpus sorts each
    // source's FULL row set in a single task — multi-TB per task at
    // 100 TB. After the two-phase GroupPrefix rewrite, every Window in
    // these plans must either (a) be partitioned by >= 2 expressions
    // (the (group, partition-id) intra-partition window), or (b) run
    // over a provably small input: an Aggregate (the per-(group, pid)
    // subtotal table), a Limit (tx12's top-64), or a local-rank
    // Filter (_lrn <= k candidates in topKPerGroup).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Aggregate, GlobalLimit, Filter, LogicalPlan}
    Seq("sp03_pack_sequences", "px02_mixture_budget",
        "tx12_vocab", "q23_window_dist").foreach { name =>
      val lp: LogicalPlan =
        SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
      val offenders = lp.collect {
        case w: LWindow if w.partitionSpec.size < 2 =>
          val smallInput = w.child.collectFirst {
            case _: Aggregate => true
            case _: GlobalLimit => true
            case f: Filter if f.condition.references.exists(_.name.contains("lrn")) => true
          }.isDefined
          if (smallInput) None else Some(w.simpleString(120))
      }.flatten
      assert(offenders.isEmpty,
        s"$name has a Window that sorts a whole group in one task:\n${offenders.mkString("\n")}")
    }
  }

  test("rank-limit top-k per group plans a PARTIAL WindowGroupLimit before the shuffle") {
    // The complement of the GroupPrefix test above: for
    // row_number() <= k filters, Catalyst's InferWindowGroupLimit
    // (SPARK-37099) inserts a Partial WindowGroupLimit on the map
    // side — each input partition ships only its local top-k per
    // group, so a low-cardinality group column never funnels a whole
    // group's rows through one task. If an orderBy change or a
    // non-literal limit ever silently disables the rewrite, this
    // pins it.
    // sp04's rank-vs-column budget filter is subsumed by its literal
    // total-budget cap (budgets sum to 200), which re-enables the
    // rewrite — the cap is the load-bearing part, so pin it here.
    Seq("sp02_reservoir_per_source", "q07_window_rank", "q16_topk_per_group",
        "sp04_temperature").foreach { name =>
      val p = plan(name)
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"$name must plan a map-side partial group limit:\n$p")
    }
  }

  test("q26 sketches aggregate partially (map-side) — single-pass, mergeable") {
    val p = plan("q26_approx_sketch")
    assert(p.contains("partial_approx_count_distinct") || p.contains("partial_"),
      s"sketches must partial-aggregate before the shuffle:\n$p")
    assert(!p.contains("Window"), s"sketches must not rank:\n$p")
  }

  test("no query ever degenerates into a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product — broadcast or re-key it:\n$p")
    }
  }

  test("ss22 batch IVF-PQ broadcasts the query LUTs and probes cells by equi-join") {
    val p = plan("ss22_ivfpq_batch")
    // the query batch (probes + LUTs) must be the broadcast side of a
    // cell equi-join — the corpus index never re-shuffles per batch
    assert(p.contains("BroadcastHashJoin"),
      s"the probe join must broadcast the batch LUT side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"batch ANN must never be all-pairs:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the serving query may shuffle-join:\n$p")
  }

  test("chunk/gram lambdas never re-split the text per element (inlining guard)") {
    // The dd16/tx16 hazard class (SCALE.md r8): an inline split(text)
    // sliced inside a HOF lambda re-tokenizes the doc once per
    // element — quadratic in doc length, invisible at 50-word bench
    // docs. The fix materializes the token array in its own
    // projection; this guard pins that the OPTIMIZED plans stayed
    // fixed (both the lambda body and the InferFiltersFromGenerate
    // pushdown that re-derives it in a scan filter).
    val chunky = Seq("tx09_dup_ngrams", "tx10_repetition", "tx11_decontam",
      "tx16_line_dedup", "tx21_chunk", "px03_funnel", "px05_split_leakage")
    chunky.foreach { name =>
      val p = plan(name)
      assert(!p.contains("slice(split("),
        s"$name: a lambda slices an INLINE split — the token array must " +
          s"be materialized in its own projection first:\n$p")
    }
  }

  test("PLANS.md documents every registered query (regen: tools/run.sh graft.DevProbe --plans > PLANS.md)") {
    // The r9 dump hand-listed query keys and silently trailed the four
    // newest queries. --plans now derives its list from
    // SparkEntry.queries itself, and this gate fails the build whenever
    // the committed dump is missing any registered query's section.
    val f = new java.io.File("/root/repo/PLANS.md")
    assert(f.exists, "PLANS.md missing — regenerate with: " +
      "tools/run.sh graft.DevProbe --plans > PLANS.md")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val sections = try src.getLines().collect {
      case l if l.startsWith("## ") => l.stripPrefix("## ").trim
    }.toSet finally src.close()
    val missing = SparkEntry.queries.keys.toSeq.sorted.filterNot(sections)
    assert(missing.isEmpty,
      s"PLANS.md trails the query registry — missing ${missing.mkString(", ")}; " +
        "regenerate with: tools/run.sh graft.DevProbe --plans > PLANS.md")
  }

  test("golden plan shapes: the shuffle/join topology of EVERY query is pinned") {
    // PlanShape's signature per query, against the pinned file.
    // Regenerate after an INTENTIONAL plan change with:
    // GRAFT_REGEN_GOLDEN=1 sbt test (tests fork, so an env var reaches
    // them; -D does not)
    // Start from a clean cache: earlier tests persist subtrees (ss05/
    // ss06 centroids) that would otherwise leak InMemoryTableScans
    // into OTHER queries' plans and make the signature order-dependent.
    spark.sharedState.cacheManager.clearCache()
    val live = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name + " " + PlanShape.signature(plan(name))
    }
    val f = PlanShape.goldenFile
    if (sys.env.get("GRAFT_REGEN_GOLDEN").contains("1")) {
      val w = new java.io.PrintWriter(f, "UTF-8")
      live.foreach(w.println); w.close()
    }
    // a missing golden must fail, not be written from the live plans
    // and then compared with itself
    assert(f.exists, s"${f.getAbsolutePath} missing — run from the repo root, or regenerate " +
      "with GRAFT_REGEN_GOLDEN=1 sbt test")
    val golden = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    assert(golden.size == SparkEntry.queries.size,
      s"plan_golden.txt has ${golden.size} lines for ${SparkEntry.queries.size} queries — " +
        "a query landed without its topology pin; regenerate with GRAFT_REGEN_GOLDEN=1 sbt test")
    val drift = live.zipAll(golden, "<missing>", "<missing>").filter { case (a, b) => a != b }
    assert(drift.isEmpty,
      "plan topology drifted (live vs golden):\n" +
        drift.map { case (a, b) => s"  live:   $a\n  golden: $b" }.mkString("\n"))
  }

  test("fused graft_cosine kernel is codegen'd and bitwise-equal to the unfused form") {
    GraftExtensions.register(spark)
    import graft.functions.VectorFunctions
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("q_emb"))
    val fusedDf = e.crossJoin(broadcast(q))
      .select(col("vec_id"), VectorFunctions.cosine(col("embedding"), col("q_emb")).as("c"))
    val p = fusedDf.queryExecution.executedPlan.toString
    assert(p.contains("graft_cosine"), s"fused kernel should appear in the plan:\n$p")
    val fused = fusedDf.orderBy(col("vec_id")).collect().map(_.getDouble(1))
    val unfused = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        (VectorFunctions.dot(col("embedding"), col("q_emb")) /
          (sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))) *
           sqrt(VectorFunctions.dot(col("q_emb"), col("q_emb"))))).as("c"))
      .orderBy(col("vec_id")).collect().map(_.getDouble(1))
    assert(fused.sameElements(unfused), "one-pass fold must be bit-identical to three passes")
  }

  test("native graft_l2distsq kernel is codegen'd and bitwise-equal to the composed fold") {
    GraftExtensions.register(spark)
    import graft.functions.VectorFunctions
    val e = Tables(spark, sfDir, "embeddings")
    val q = e.orderBy(col("vec_id")).limit(1)
      .select(transform(col("embedding"), x => x.cast("double")).as("q_emb"))
    val fusedDf = e.crossJoin(broadcast(q))
      .select(col("vec_id"), VectorFunctions.l2distSq(col("embedding"), col("q_emb")).as("d2"))
    val p = fusedDf.queryExecution.executedPlan.toString
    assert(p.contains("graft_l2distsq"), s"fused kernel should appear in the plan:\n$p")
    val fused = fusedDf.orderBy(col("vec_id")).collect().map(_.getDouble(1))
    // the composed form this kernel replaced: double-widened
    // index-order left fold over zip_with
    val composed = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        aggregate(zip_with(col("embedding"), col("q_emb"),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v).as("d2"))
      .orderBy(col("vec_id")).collect().map(_.getDouble(1))
    assert(fused.sameElements(composed), "native loop must be bit-identical to the HOF fold")
    // double-double operand shape (the residual paths)
    val dd = e.limit(64)
      .select(transform(col("embedding"), x => x.cast("double")).as("a"))
      .crossJoin(broadcast(q))
    val f2 = dd.select(VectorFunctions.l2distSq(col("a"), col("q_emb")).as("d2"))
      .collect().map(_.getDouble(0))
    val c2 = dd.select(aggregate(zip_with(col("a"), col("q_emb"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v).as("d2"))
      .collect().map(_.getDouble(0))
    assert(f2.sameElements(c2), "double-double shape must match the HOF fold")
  }

  test("native graft_cell_argmin equals the composed array_min(transform) nest") {
    GraftExtensions.register(spark)
    import graft.functions.VectorFunctions
    val e = Tables(spark, sfDir, "embeddings")
    // a real centroid frame shape (the centroidArray contract): one
    // row holding array<struct<c_label, cvec double>>, labels
    // deliberately unsorted so the tie-break is positional-order-free
    val cents = e.orderBy(col("vec_id")).limit(10)
      .select((lit(11) - col("vec_id").cast("int")).as("c_label"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
      .agg(collect_list(struct(col("c_label"), col("cvec"))).as("cents"))
    val base = e.crossJoin(broadcast(cents))
    val fusedDf = base.select(col("vec_id"),
      VectorFunctions.cellArgmin(col("embedding"), col("cents"), "cvec", "c_label").as("best"))
    val p = fusedDf.queryExecution.executedPlan.toString
    assert(p.contains("graft_cell_argmin"), s"fused kernel should appear in the plan:\n$p")
    val fused = fusedDf
      .select(col("vec_id"), col("best.dist2"), col("best.cell"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val composed = base.select(col("vec_id"),
        array_min(transform(col("cents"),
          c => struct(aggregate(zip_with(col("embedding"), c.getField("cvec"),
              (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
              lit(0.0), (acc, v) => acc + v).as("dist2"),
            c.getField("c_label").as("cell")))).as("best"))
      .select(col("vec_id"), col("best.dist2"), col("best.cell"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(fused.sameElements(composed),
      "fused cell argmin must be bit-identical to the composed struct array_min")
    // tie exercise: two centroids with IDENTICAL vectors — the
    // composed struct ordering picks the SMALLER label; so must the
    // kernel. And a null embedding keeps the row with a (null,
    // smallest-label) struct, exactly as the composed ordering does.
    import spark.implicits._
    val twin = e.orderBy(col("vec_id")).limit(1)
      .select(transform(col("embedding"), x => x.cast("double")).as("cv"))
      .select(array(
        struct(lit(7).as("c_label"), col("cv").as("cvec")),
        struct(lit(3).as("c_label"), col("cv").as("cvec"))).as("cents"))
    val probe = Seq((1L, true), (2L, false)).toDF("id", "has")
      .crossJoin(broadcast(e.orderBy(col("vec_id")).limit(1).select(col("embedding").as("emb0"))))
      .select(col("id"), when(col("has"), col("emb0")).otherwise(lit(null)).as("embedding"))
      .crossJoin(broadcast(twin))
    val got = probe.select(col("id"),
        VectorFunctions.cellArgmin(col("embedding"), col("cents"), "cvec", "c_label").as("b"))
      .select(col("id"), col("b.dist2"), col("b.cell"))
      .orderBy(col("id")).collect()
    assert(got(0).getInt(2) == 3 && got(0).getDouble(1) == 0.0,
      s"tie must break to the smaller label: ${got(0)}")
    assert(got(1).isNullAt(1) && got(1).getInt(2) == 3,
      s"null embedding must keep the row with (null d2, smallest label): ${got(1)}")
  }

  test("native graft_pq_argmin and graft_adc_sum equal the composed HOF nests") {
    GraftExtensions.register(spark)
    import graft.functions.VectorFunctions
    val e = Tables(spark, sfDir, "embeddings")
    // a real codebook shape: 16 codewords per subspace, svec doubles,
    // deliberately UNSORTED codes (17 - vec_id) so tie-break-by-code
    // is exercised against non-positional order
    val cb = e.orderBy(col("vec_id")).limit(16)
      .select((lit(17) - col("vec_id").cast("int")).as("code"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
      .agg(collect_list(struct(col("code"), col("cvec"))).as("cl"))
      .select(transform(sequence(lit(0), lit(7)), m =>
        transform(col("cl"), c => struct(c.getField("code").as("code"),
          slice(c.getField("cvec"), m * lit(8) + 1, lit(8)).as("svec")))).as("cb"))
    val base = e.crossJoin(broadcast(cb))
    def subSlice(v: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      slice(v, m * lit(8) + lit(1), lit(8))
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    val subIdx = sequence(lit(0), lit(7))
    val composed = base.select(col("vec_id"),
        transform(subIdx, m =>
          array_min(transform(element_at(col("cb"), m + 1), (cw, i) =>
            struct(l2(subSlice(col("embedding"), m), cw.getField("svec")).as("d2"),
              cw.getField("code").as("code"), i.as("idx"))))).as("mins"))
      .select(col("vec_id"),
        transform(col("mins"), b => b.getField("idx")).as("idxs"),
        transform(col("mins"), b => b.getField("code")).as("codes"),
        transform(col("mins"), b => b.getField("d2")).as("d2s"))
    val fused = base.select(col("vec_id"),
      VectorFunctions.pqArgminIdx(col("embedding"), col("cb"), 8).as("idxs"),
      VectorFunctions.pqArgminCode(col("embedding"), col("cb"), 8).as("codes"),
      VectorFunctions.pqArgminFull(col("embedding"), col("cb"), 8).as("full"))
    val joined = fused.alias("f").join(composed.alias("c"), "vec_id")
    val bad = joined.filter(
      col("f.idxs") =!= col("c.idxs") || col("f.codes") =!= col("c.codes") ||
      transform(col("f.full"), b => b.getField("idx")) =!= col("c.idxs") ||
      transform(col("f.full"), b => b.getField("code")) =!= col("c.codes") ||
      transform(col("f.full"), b => b.getField("d2")) =!= col("c.d2s"))
    assert(bad.isEmpty, s"pq_argmin != composed: ${bad.take(3).toSeq}")
    // adc: fused gather-sum vs the zip_with+aggregate fold, same LUT
    val withLut = base.select(col("vec_id"),
      VectorFunctions.pqArgminIdx(col("embedding"), col("cb"), 8).as("cidx"),
      transform(subIdx, m =>
        transform(element_at(col("cb"), m + 1), cw =>
          l2(subSlice(col("embedding"), m), cw.getField("svec")))).as("lut"))
    val badAdc = withLut.select(col("vec_id"),
        VectorFunctions.adcSum(col("lut"), col("cidx")).as("a"),
        aggregate(zip_with(subIdx, col("cidx"), (m, ci) =>
          element_at(element_at(col("lut"), m + 1), ci + 1)),
          lit(0.0), (acc, x) => acc + x).as("b"))
      .filter(col("a") =!= col("b"))
    assert(badAdc.isEmpty, s"adc_sum != composed: ${badAdc.take(3).toSeq}")
  }

  test("native graft_dot expression participates in codegen") {
    GraftExtensions.register(spark)
    val df = spark.sql(
      s"SELECT graft_dot(embedding, embedding) AS d FROM parquet.`$sfDir/embeddings.parquet`")
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(p.contains("*(1) Project [graft_dot"), s"graft_dot should not break codegen:\n$p")
    val viaSql = df.agg(sum(col("d"))).collect().head.getDouble(0)
    import graft.functions.VectorFunctions
    val viaApi = Tables(spark, sfDir, "embeddings")
      .select(VectorFunctions.l2normSq(col("embedding")).as("d"))
      .agg(sum(col("d"))).collect().head.getDouble(0)
    assert(viaSql == viaApi, "SQL function and Column API must agree bitwise")
  }
}
