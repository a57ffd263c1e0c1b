package graft

import graft.api._
import org.apache.spark.sql.functions._

/** The public syntax must produce the same results as the verified
  * SparkEntry operators (which hash-match the DuckDB oracle). */
class ApiSpec extends SparkSpec {

  test("latestByKey matches ts02") {
    val viaApi = Tables.events(spark, sfDir)
      .latestByKey("user_id", "ts", "event_id")
      .select("user_id", "ts", "event_type", "value")
      .orderBy("user_id")
    val viaOp = SparkEntry.queries("ts02_latest_by_key")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("resample matches ts01 counts") {
    val viaApi = Tables.events(spark, sfDir)
      .resample("ts", "hour", Seq.empty, Seq(count(lit(1)).as("n")))
      .orderBy("bucket")
    val viaOp = SparkEntry.queries("ts01_resample")(spark, sfDir).select("bucket", "n")
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("sessionize matches ts05 session counts") {
    val api = Tables.events(spark, sfDir)
      .withColumn("_tb", concat(col("ts").cast("string"), lit("#"), col("event_id")))
      .sessionize("user_id", "ts", 1800)
      .groupBy("user_id", "session_id").count()
    val op = SparkEntry.queries("ts05_session")(spark, sfDir)
    assert(api.count() == op.count())
    assert(api.agg(sum("count")).collect().head.getLong(0) ==
      op.agg(sum("n_events")).collect().head.getLong(0))
  }

  test("dedupExact matches dd01 group count") {
    val api = Tables(spark, sfDir, "documents").dedupExact("doc_id", "text")
    val op = SparkEntry.queries("dd01_exact")(spark, sfDir)
    assert(api.count() == op.count())
  }

  test("heavyHitters returns a bounded summary honoring the MG guarantee") {
    import graft.api._
    val docsDf = Tables(spark, sfDir, "documents")
    val sk = docsDf.heavyHitters("lang", 4).collect().head
      .getMap[String, Long](0)
    assert(sk.size <= 4, s"summary must stay within capacity: $sk")
    // 'en' dominates the synthetic corpus -> must be present
    assert(sk.contains("en"), s"dominant value missing from summary: $sk")
  }

  test("dedupAgainstBloom flags exactly what dedupAgainst flags") {
    // the Bloom prefilter is a plan optimization, never a semantics
    // change: identical output on a real corpus split (increment =
    // doc_id % 5 == 0 vs the rest's fingerprints — the dd12/dd14 cut)
    import graft.api._
    val docsDf = Tables(spark, sfDir, "documents")
    val fps = docsDf.filter(col("doc_id") % 5 =!= 0)
      .select(md5(col("text")).as("chash"))
    val inc = docsDf.filter(col("doc_id") % 5 === 0)
    val plain = inc.dedupAgainst("doc_id", "text", fps)
      .select("doc_id", "is_known").orderBy("doc_id")
    val bloomed = inc.dedupAgainstBloom("doc_id", "text", fps, expectedRows = 100)
      .select("doc_id", "is_known").orderBy("doc_id")
    assert(bloomed.collect().toSeq == plain.collect().toSeq)
  }

  test("cosineTopK matches ss01") {
    val e = Tables(spark, sfDir, "embeddings")
    val viaApi = e.cosineTopK("embedding",
      e.filter(col("vec_id") === 7), "embedding", 50, "vec_id")
    val viaOp = SparkEntry.queries("ss01_brute_topk")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("nearDupPairs/dupClusters match dd02/dd06 over documents") {
    val docsDf = Tables(spark, sfDir, "documents")
    val pairs = docsDf.nearDupPairs("doc_id", "text").orderBy("a", "b")
    val viaOp = SparkEntry.queries("dd02_minhash_lsh")(spark, sfDir)
    assert(pairs.collect().toSeq == viaOp.collect().toSeq)
    val clusters = docsDf.dupClusters("doc_id", "text").orderBy("doc_id")
    val viaOp6 = SparkEntry.queries("dd06_dup_clusters")(spark, sfDir)
    assert(clusters.collect().toSeq == viaOp6.collect().toSeq)
    // the dedup KEEP step: one doc per cluster
    val kept = clusters.groupBy("cluster_id").agg(min(col("doc_id")).as("keep"))
    assert(kept.count() <= docsDf.count())
  }

  test("star-contraction CC matches min-label CC on the real pair graph") {
    val docsDf = Tables(spark, sfDir, "documents")
    val viaStar = docsDf.dupClustersStar("doc_id", "text").orderBy("doc_id")
    val viaProp = SparkEntry.queries("dd06_dup_clusters")(spark, sfDir)
    assert(viaStar.collect().toSeq == viaProp.collect().toSeq)
  }

  test("star-contraction CC resolves a 64-deep chain in few rounds") {
    // A path graph 0-1-2-...-63 has diameter 63: min-label propagation
    // needs ~63 rounds (it would silently mislabel under a small
    // maxIter), while star contraction halves heights every round —
    // maxIter=10 must fully converge with every node labeled 0.
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (0L to 63L).toDF("node")
    val labels = graft.operators.Dedup
      .connectedComponentsStar(nodes, pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 64 && labels.values.forall(_ == 0L),
      s"chain must collapse to component 0: $labels")
  }

  test("sourceOverlap matches dd10 and self-pairs never appear") {
    val docsDf = Tables(spark, sfDir, "documents")
    val viaApi = docsDf.sourceOverlap("source", "text")
      .orderBy("source_a", "source_b")
    val viaOp = SparkEntry.queries("dd10_source_overlap")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    assert(viaApi.filter(col("source_a") === col("source_b")).isEmpty)
  }

  test("hashSample is reproducible, growth-stable, and near the target fraction") {
    val docs = Tables(spark, sfDir, "documents")
    val s1 = docs.hashSample("doc_id", 0.25)
    val s2 = docs.hashSample("doc_id", 0.25)
    assert(s1.collect().toSeq == s2.collect().toSeq, "same seed must reproduce the sample")
    val n = docs.count().toDouble
    val frac = s1.count() / n
    assert(frac > 0.15 && frac < 0.35, s"expected ~0.25, got $frac")
    // growth stability: a row kept in the full corpus is kept in any subset
    val subsetKept = docs.filter(col("doc_id") < 100).hashSample("doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullKept = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(subsetKept == fullKept.filter(_ < 100))
  }

  test("reservoirPerGroup keeps exactly k rows per group, matching sp02") {
    val viaApi = Tables(spark, sfDir, "documents")
      .reservoirPerGroup("source", "doc_id", 5, seed = "sp02-alt")
    val sizes = viaApi.groupBy("source").count().select("count").distinct().collect()
    assert(sizes.map(_.getLong(0)).toSeq == Seq(5L))
    // deterministic: same call, same rows
    val again = Tables(spark, sfDir, "documents")
      .reservoirPerGroup("source", "doc_id", 5, seed = "sp02-alt")
    assert(viaApi.orderBy("source", "doc_id").collect().toSeq ==
      again.orderBy("source", "doc_id").collect().toSeq)
  }

  test("native as-of operator matches the composed form; one exchange per side") {
    GraftExtensions.register(spark)
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_ts"), col("o_orderkey"))
    val native = events.asofJoinNative(orders, "user_id", "ts", "o_custkey", "o_ts", "o_orderkey")
    val composed = events.asofJoin(orders, "user_id", "ts", "o_custkey", "o_ts", "o_orderkey")
    val n = native.orderBy("event_id").collect()
    val c = composed.orderBy("event_id").collect()
    assert(n.length == c.length && n.sameElements(c),
      "custom AsofJoinExec must reproduce the composed union+window semantics")
    // plan shape: the custom exec with exactly one exchange + sort per side
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"), s"expected the custom exec in the plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"as-of must shuffle each side exactly once:\n$p")
  }

  test("anomalies matches ts15 rows") {
    val viaApi = Tables.events(spark, sfDir)
      .withColumn("value_c", round(col("value") * 100).cast("long"))
      .anomalies("user_id", "value_c", 3.0)
      .select("event_id", "user_id", "value_c", "z")
      .orderBy("user_id", "event_id")
    val viaOp = SparkEntry.queries("ts15_anomaly")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("containmentPairs matches dd07") {
    val viaApi = Tables(spark, sfDir, "documents")
      .containmentPairs("doc_id", "text").orderBy("a", "b")
    val viaOp = SparkEntry.queries("dd07_containment")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("funnel verb matches ts21 on events") {
    val viaApi = Tables.events(spark, sfDir)
      .funnel("user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), tolSeconds = 43200L)
      .orderBy("user_id")
    val viaOp = SparkEntry.queries("ts21_funnel")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("funnel chains stages strictly forward within tolerance") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val rows = Seq(
      // u1: A then B in-tol then C in-tol -> depth 3
      (1L, t(0), "A"), (1L, t(10), "B"), (1L, t(15), "C"),
      // u2: B BEFORE A only -> depth 1 (no forward B)
      (2L, t(0), "B"), (2L, t(5), "A"),
      // u3: B after tolerance -> depth 1
      (3L, t(0), "A"), (3L, t(200), "B"),
      // u4: anchor is FIRST A; B is in tolerance of the second A but
      // not the first -> depth 1 (documented anchor semantic)
      (4L, t(0), "A"), (4L, t(300), "A"), (4L, t(320), "B"),
      // u5: C before B never counts even in-tol of A -> depth 2
      (5L, t(0), "A"), (5L, t(5), "C"), (5L, t(20), "B"))
    val df = spark.createDataFrame(rows).toDF("uid", "ts", "et")
    val out = df.funnel("uid", "ts", "et", Seq("A", "B", "C"), tolSeconds = 100L)
      .select("uid", "depth").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
  }

  test("funnelWhere takes arbitrary stage predicates (windowFunnel form)") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val rows = Seq(
      // u1: signup, then a SMALL purchase (fails the >= 50 stage), then a big one
      (1L, t(0), "signup", 5.0), (1L, t(10), "purchase", 10.0), (1L, t(20), "purchase", 80.0),
      // u2: signup, only small purchases -> depth 1
      (2L, t(0), "signup", 5.0), (2L, t(30), "purchase", 49.0))
    val df = spark.createDataFrame(rows).toDF("uid", "ts", "et", "value")
    val out = df.funnelWhere("uid", "ts",
        Seq(col("et") === "signup", col("et") === "purchase" && col("value") >= 50.0),
        tolSeconds = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L))
    // the typed form is exactly funnelWhere with equality predicates
    val a = Tables.events(spark, sfDir)
      .funnel("user_id", "ts", "event_type", Seq("signup", "view"), 3600L)
      .orderBy("user_id").collect().toSeq
    val b = Tables.events(spark, sfDir)
      .funnelWhere("user_id", "ts",
        Seq(col("event_type") === "signup", col("event_type") === "view"), 3600L)
      .orderBy("user_id").collect().toSeq
    assert(a == b)
  }

  test("funnelReport rolls the per-user funnel into stage conversions") {
    val rep = Tables.events(spark, sfDir)
      .funnelReport("user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), tolSeconds = 43200L)
      .orderBy("stage")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val perUser = SparkEntry.queries("ts21_funnel")(spark, sfDir).collect()
    val n = Seq(
      perUser.count(_.get(1) != null).toLong,
      perUser.count(_.get(2) != null).toLong,
      perUser.count(_.get(3) != null).toLong)
    assert(rep.map(_._3).toSeq == n, s"stage counts must match ts21: $rep vs $n")
    assert(rep(0)._4 == 1000L && rep(0)._5 == 1000L, "stage 1 converts at 1000 milli")
    assert(rep(1)._4 == n(1) * 1000 / n(0) && rep(2)._4 == n(2) * 1000 / n(1))
    assert(rep(2)._5 == n(2) * 1000 / n(0))
    // the funnel is monotone: each stage keeps at most the prior stage
    assert(n(0) >= n(1) && n(1) >= n(2))
  }

  test("retentionMatrix matches ts22 on events") {
    val viaApi = Tables.events(spark, sfDir)
      .retentionMatrix("user_id", "ts")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("bucket"), col("cohort")).cast("long").as("day_offset"),
        col("n_active"), col("n_cohort"), col("retention_milli"))
      .orderBy("cohort_day", "day_offset")
    val viaOp = SparkEntry.queries("ts22_retention")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("transitionMatrix verb matches ts24 on events") {
    val viaApi = Tables.events(spark, sfDir)
      .transitionMatrix("user_id", "ts", "event_type", tieCol = Some("event_id"))
      .orderBy("from_type", "to_type")
    val viaOp = SparkEntry.queries("ts24_transitions")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("transitionMatrix counts adjacency on a handcrafted timeline") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // u1: A B A B ; u2: A A  -> from A: {B:2, A:1}, from B: {A:1}
    val rows = Seq(
      (1L, t(0), "A"), (1L, t(1), "B"), (1L, t(2), "A"), (1L, t(3), "B"),
      (2L, t(0), "A"), (2L, t(1), "A"))
    val df = spark.createDataFrame(rows).toDF("uid", "ts", "et")
    val out = df.transitionMatrix("uid", "ts", "et")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      ("A", "B") -> ((2L, 3L, 666L)),
      ("A", "A") -> ((1L, 3L, 333L)),
      ("B", "A") -> ((1L, 1L, 1000L))))
  }

  test("abLift verb partitions exposed users and ties out to ts26 totals") {
    val rep = Tables.events(spark, sfDir)
      .abLift("user_id", "ts",
        exposure = col("event_type") === "view",
        conversion = col("event_type") === "purchase")
      .orderBy("arm").collect()
    assert(rep.map(_.getString(0)).toSeq == Seq("arm0", "arm1"))
    val ts26 = SparkEntry.queries("ts26_ab_lift")(spark, sfDir).collect()
    // arm labels hash differently (A/B top-nibble vs arm0/1 mod-2) but
    // both partition the same exposed-user set with the same total
    // conversions
    assert(rep.map(_.getLong(1)).sum == ts26.map(_.getLong(1)).sum)
    assert(rep.map(_.getLong(2)).sum == ts26.map(_.getLong(2)).sum)
    // lift column is relative to arm0
    assert(rep.head.getLong(4) == 0L)
    assert(rep(1).getLong(4) == rep(1).getLong(3) - rep.head.getLong(3))
    // four arms still partition the same user set
    val four = Tables.events(spark, sfDir)
      .abLift("user_id", "ts", col("event_type") === "view",
        col("event_type") === "purchase", nArms = 4).collect()
    assert(four.length == 4 && four.map(_.getLong(1)).sum == rep.map(_.getLong(1)).sum)
  }

  test("winnowPairs matches dd16") {
    val viaApi = Tables(spark, sfDir, "documents")
      .winnowPairs("doc_id", "text").orderBy("a", "b")
    val viaOp = SparkEntry.queries("dd16_winnowing")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("winnowing guarantees a shared fingerprint for any shared run of >= w+k-1 tokens") {
    // Schleimer et al. 2003 Theorem (correctness of winnowing): with
    // k-gram fingerprints and window w, any match of length >=
    // w + k - 1 tokens is caught. Plant doc pairs that share exactly a
    // (w+k-1)-token run embedded in otherwise-disjoint noise, at
    // varying offsets (window phase differs per doc — the property
    // must hold regardless of where in the doc the run sits).
    val (k, w) = (3, 4)
    val run = (1 to (w + k - 1)).map(i => s"shared$i").mkString(" ")
    def noise(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docsRows = (0 until 6).flatMap { off =>
      Seq((off * 2L, s"${noise(s"a$off", off + 1)} $run ${noise(s"b$off", 7)}"),
        (off * 2L + 1, s"${noise(s"c$off", 9 - off)} $run ${noise(s"d$off", off + 2)}"))
    }
    val df = spark.createDataFrame(docsRows).toDF("doc_id", "text")
    val fps = graft.operators.Dedup.winnowFingerprints(df, k, w)
    val shared = fps.groupBy("gh")
      .agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    (0 until 6).foreach { off =>
      assert(shared.contains(off * 2L) && shared.contains(off * 2L + 1),
        s"offset $off: planted pair must share a fingerprint (guarantee violated)")
    }
    // And the pair verb surfaces them when the threshold allows
    // single-fingerprint evidence.
    val pairs = df.winnowPairs("doc_id", "text", k, w, minShared = 1L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 6).foreach { off =>
      assert(pairs.contains((off * 2L, off * 2L + 1)),
        s"offset $off: planted pair missing from winnowPairs")
    }
  }

  test("packSequences conserves tokens and starts every group at pack 0") {
    val df = Tables(spark, sfDir, "documents")
      .withColumn("tok_cnt", size(split(col("text"), " ")))
      .packSequences("source", "doc_id", "tok_cnt", 2000L, seed = "sp03x")
    assert(df.count() == Tables(spark, sfDir, "documents").count())
    assert(df.filter(col("pack_offset") < 0).count() == 0)
    assert(df.groupBy("source").agg(min(col("pack_id")).as("m"))
      .filter(col("m") =!= 0).count() == 0)
  }

  test("mixtureBudget keeps prefixes under per-group budgets") {
    val budget = when(col("source") === "src0", lit(4000L)).otherwise(lit(800L))
    val df = Tables(spark, sfDir, "documents")
      .withColumn("tok_cnt", size(split(col("text"), " ")))
      .mixtureBudget("source", "doc_id", "tok_cnt", budget)
    val per = df.groupBy("source")
      .agg(sum(col("tok_cnt").cast("long")).as("sel"), count(lit(1)).as("n")).collect()
    assert(per.nonEmpty && per.forall(_.getAs[Long]("n") > 0))
    // greedy prefix: selection can overshoot by at most one doc
    per.foreach { r =>
      val cap = if (r.getAs[String]("source") == "src0") 4000L else 800L
      assert(r.getAs[Long]("sel") < cap + 1000, s"overshoot for ${r}")
    }
  }

  test("scrubPatterns redacts and counts") {
    import spark.implicits._
    val df = Seq((1L, "call 12345 or mail a@b.co now"), (2L, "clean text"))
      .toDF("id", "t")
      .scrubPatterns("t", Seq("[0-9]{4,}" -> "<NUM>", "[A-Za-z]+@[A-Za-z.]+" -> "<EMAIL>"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[String]("scrubbed") == "call <NUM> or mail <EMAIL> now")
    assert(rows(0).getAs[Int]("n_redactions") == 2)
    assert(rows(1).getAs[String]("scrubbed") == "clean text")
    assert(rows(1).getAs[Int]("n_redactions") == 0)
  }

  test("asofJoin picks most recent right row per key") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 200L), (2L, 50L)).toDF("k", "t")
      .select(col("k"), timestamp_seconds(col("t")).as("t"))
    val right = Seq((1L, 90L, "a"), (1L, 150L, "b"), (2L, 60L, "c")).toDF("k", "t", "v")
      .select(col("k"), timestamp_seconds(col("t")).as("t"), col("v"))
    val got = left.asofJoin(right, "k", "t", "k", "t", "v")
      .orderBy("k", "t").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq == Seq((1L, "a"), (1L, "b"), (2L, null)))
  }

  test("temperatureSample matches sp04 selection") {
    val docs = Tables(spark, sfDir, "documents")
      .withColumn("tok_cnt", size(split(col("text"), " ")).cast("long"))
    val api = docs.temperatureSample("source", "doc_id", "tok_cnt", 200L, seed = "")
      .select("doc_id").orderBy("doc_id")
    // seed "" makes the verb's md5 key (id + ":") differ from sp04's
    // (id + ":sp04") — counts per source still match because budgets do
    val op = SparkEntry.queries("sp04_temperature")(spark, sfDir)
    assert(api.count() == op.count())
    val apiPer = api.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val opPer = op.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(apiPer == opPer)
  }

  test("temperatureSample GroupPrefix branch agrees with a naive window") {
    // Budgets > 1000 take the two-phase GroupPrefix path (the literal
    // window cap stops bounding the per-group merge there), which the
    // sp04-agreement test above no longer exercises. Same selection
    // as the one-task-per-group naive form, computed independently.
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
      .withColumn("tok_cnt", size(split(col("text"), " ")).cast("long"))
    val got = docs.temperatureSample("source", "doc_id", "tok_cnt", 2000L)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val wgt = docs.groupBy(col("source"))
      .agg(sum(col("tok_cnt")).as("nt"))
      .withColumn("w", floor(sqrt(col("nt").cast("double") * 1000000d)).cast("long"))
    val tot = wgt.agg(sum(col("w")).as("tw"))
    val budgets = wgt.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(w * 2000) DIV tw"))
      .select(col("source"), col("budget"))
    val naive = docs
      .withColumn("_h", md5(concat(col("doc_id").cast("string"), lit(":graft"))))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("_h"), col("doc_id"))))
      .join(budgets, "source")
      .filter(col("_rn") <= col("budget"))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got == naive)
  }

  test("decontaminate agrees with tx11 on flags and overlap counts") {
    val docs = Tables(spark, sfDir, "documents")
    val api = docs.filter(col("source") =!= "src0")
      .decontaminate("doc_id", "text", docs.filter(col("source") === "src0"), "text")
      .select(col("doc_id"), col("n_overlap"), col("contaminated"))
      .orderBy("doc_id")
    val op = SparkEntry.queries("tx11_decontam")(spark, sfDir)
      .select(col("doc_id"), col("n_overlap"), col("contaminated"))
      .orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
  }

  test("repetitionStats matches tx10 milli fractions") {
    val api = Tables(spark, sfDir, "documents")
      .repetitionStats("doc_id", "text")
      .select("doc_id", "top_word_milli", "dup_bigram_milli")
      .orderBy("doc_id")
    val op = SparkEntry.queries("tx10_repetition")(spark, sfDir)
      .select("doc_id", "top_word_milli", "dup_bigram_milli")
      .orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
  }

  test("semdedupPrune matches ss10 and its survivors anti-join cleanly") {
    val e = Tables(spark, sfDir, "embeddings")
    val api = e.semdedupPrune("vec_id", "embedding", "label", 0.3).orderBy("vec_id")
    val op = SparkEntry.queries("ss10_semdedup")(spark, sfDir)
    assert(api.collect().toSeq == op.collect().toSeq)
    val survivors = e.join(api.select("vec_id"), Seq("vec_id"), "left_anti")
    assert(survivors.count() == e.count() - api.count())
  }

  test("pqCodebook/pqEncode verbs agree with the ss14/ss15 operators") {
    val e = Tables(spark, sfDir, "embeddings")
    // trained codebook: verb (2 iterations) == ss14's training
    val cb = e.pqCodebook("embedding", "label", iterations = 2)
    val viaHelpers = graft.operators.Similarity.pqIterate(
      e.select(col("embedding"), col("label")),
      graft.operators.Similarity.pqIterate(
        e.select(col("embedding"), col("label")),
        graft.operators.Similarity.pqSeed(e.select(col("embedding"), col("label")))))
    assert(cb.collect().toSeq == viaHelpers.collect().toSeq)
    // frozen-codebook encode: verb == ss15 on the same arrivals
    val oldCb = e.filter(col("vec_id") % 5 =!= 0).pqCodebook("embedding", "label", iterations = 0)
    val viaApi = e.filter(col("vec_id") % 5 === 0)
      .pqEncode("embedding", oldCb)
      .select(col("vec_id"), col("codes"), col("recon_d2")).orderBy("vec_id")
    val viaOp = SparkEntry.queries("ss15_pq_incremental")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // encode keeps the caller's columns and the vector column name
    assert(viaApi.columns.contains("vec_id"))
    val enc = e.limit(10).pqEncode("embedding", oldCb)
    assert(enc.columns.contains("embedding") && enc.columns.contains("codes")
      && enc.columns.contains("recon_d2"))
  }

  test("langId verb matches tx01 predictions") {
    val api = Tables(spark, sfDir, "documents").langId("text")
      .select("doc_id", "predicted").orderBy("doc_id")
    val op = SparkEntry.queries("tx01_langid")(spark, sfDir)
      .select("doc_id", "predicted").orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
  }

  test("qualityStats verb matches tx02 milli-ratios") {
    val api = Tables(spark, sfDir, "documents").qualityStats("text")
      .select("doc_id", "awl_milli", "stop_milli", "punct_milli", "quality_milli")
      .orderBy("doc_id")
    val op = SparkEntry.queries("tx02_quality")(spark, sfDir)
      .select("doc_id", "awl_milli", "stop_milli", "punct_milli", "quality_milli")
      .orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
  }

  test("dedupKeepBest verb matches dd15 and keeps exactly one doc per cluster") {
    val api = Tables(spark, sfDir, "documents")
      .dedupKeepBest("doc_id", "text")
      .select("doc_id", "cluster_id", "score", "keeper_id", "keep", "n_members")
      .orderBy("doc_id")
    val op = SparkEntry.queries("dd15_keep_best")(spark, sfDir)
    assert(api.collect().toSeq == op.collect().toSeq)
    // exactly one keeper per cluster, and it carries the max score
    val bad = api.groupBy("cluster_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("n_keep"),
        max(col("score")).as("mx"),
        max(when(col("keep"), col("score"))).as("kscore"))
      .filter(col("n_keep") =!= 1 || col("kscore") =!= col("mx"))
    assert(bad.count() == 0)
  }

  test("qualityGate verb matches tx17 scores/labels/keep") {
    val api = Tables(spark, sfDir, "documents").qualityGate("text")
      .select("doc_id", "score", "label", "keep").orderBy("doc_id")
    val op = SparkEntry.queries("tx17_quality_classifier")(spark, sfDir)
      .select("doc_id", "score", "label", "keep").orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
  }

  test("lineDedup verb matches tx16 counts and conserves the corpus line count") {
    val api = Tables(spark, sfDir, "documents").lineDedup("doc_id", "text")
      .select("doc_id", "n_lines", "n_dropped", "kept_milli").orderBy("doc_id")
    val op = SparkEntry.queries("tx16_line_dedup")(spark, sfDir)
      .select("doc_id", "n_lines", "n_dropped", "kept_milli").orderBy("doc_id")
    assert(api.collect().toSeq == op.collect().toSeq)
    // the rewritten text reconstructs exactly the kept lines
    val d = Tables(spark, sfDir, "documents").lineDedup("doc_id", "text")
    val rebuilt = d.select(
      (size(split(col("deduped_text"), " ")) + lit(0)).as("n_words_kept"),
      col("n_lines"), col("n_dropped")).agg(sum("n_words_kept")).head().getLong(0)
    assert(rebuilt > 0)
  }

  test("lineDedup keep-first semantics: earliest instance survives, within and across docs") {
    import spark.implicits._
    // doc 1 repeats a line internally; doc 2 repeats doc 1's line; doc 3 is clean
    val l = (1 to 10).map(i => s"w$i").mkString(" ") // one full 10-word line
    val m = (11 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$l $l"),      // 2 chunks, both = l -> second drops
      (2L, s"$l $m"),      // chunk l drops (doc 1 owns it), m kept
      (3L, "short text")   // single sub-width chunk, unique -> kept
    ).toDF("doc_id", "text")
    val out = docs.lineDedup("doc_id", "text")
      .select("doc_id", "n_lines", "n_dropped", "deduped_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, 1L, l)), s"in-doc dup must keep first: ${out(0)}")
    assert(out(1) == ((2L, 2L, 1L, m)), s"cross-doc dup must defer to doc 1: ${out(1)}")
    assert(out(2) == ((3L, 1L, 0L, "short text")), s"unique short doc unchanged: ${out(2)}")
  }

  test("ewma verb matches ts19 and a constant series smooths to itself") {
    val api = Tables.events(spark, sfDir)
      .withColumn("epoch_s", col("ts").cast("long"))
      .ewma("user_id", "ts", "value", 8, "event_id")
      .select(col("event_id"), col("ewma_millicents"))
    val op = SparkEntry.queries("ts19_ewma")(spark, sfDir)
      .select(col("event_id"), col("ewma_millicents").as("op_ewma"))
    assert(api.join(op, "event_id")
      .filter(col("ewma_millicents") =!= col("op_ewma")).count() == 0)
    // invariant: constant series => ewma == the constant (in millicents)
    import spark.implicits._
    val const = Seq((1L, "2024-01-01 00:00:00", 2.5), (2L, "2024-01-01 00:01:00", 2.5),
      (3L, "2024-01-01 00:02:00", 2.5))
      .toDF("event_id", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts"))).withColumn("user_id", lit(1))
    val sm = const.ewma("user_id", "ts", "value", 8, "event_id")
    assert(sm.filter(col("ewma_millicents") =!= 250000L).count() == 0)
  }

  test("splitAssign is deterministic, disjoint, growth-stable, and roughly proportioned") {
    val docs = Tables(spark, sfDir, "documents")
    val s1 = docs.splitAssign("doc_id", 0.10, 0.10, seed = "splitX")
    val s2 = docs.splitAssign("doc_id", 0.10, 0.10, seed = "splitX")
    assert(s1.select("doc_id", "split").orderBy("doc_id").collect().toSeq ==
      s2.select("doc_id", "split").orderBy("doc_id").collect().toSeq)
    val byKind = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(byKind.keySet == Set("train", "val", "test"), s"splits: $byKind")
    assert(byKind("val") / n > 0.03 && byKind("val") / n < 0.20, s"val share: $byKind")
    assert(byKind("test") / n > 0.03 && byKind("test") / n < 0.20, s"test share: $byKind")
    // growth stability: a row's split never depends on other rows
    val sub = docs.filter(col("doc_id") < 100).splitAssign("doc_id", 0.10, 0.10, seed = "splitX")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = s1.filter(col("doc_id") < 100)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub == full)
  }

  test("shardAssign is deterministic, complete, balanced, and source-mixed") {
    val docs = Tables(spark, sfDir, "documents")
    val s1 = docs.shardAssign("doc_id", 8, seed = "shardX")
    val s2 = docs.shardAssign("doc_id", 8, seed = "shardX")
    assert(s1.select("doc_id", "shard").orderBy("doc_id").collect().toSeq ==
      s2.select("doc_id", "shard").orderBy("doc_id").collect().toSeq)
    val counts = s1.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0 until 8).toSet, s"missing shards: $counts")
    val (lo, hi) = (counts.values.min, counts.values.max)
    assert(hi < 2 * lo, s"shard imbalance: min=$lo max=$hi")
    // source mixing: every shard draws from (most of) the source set —
    // at this sf a shard holds only ~60 docs over 20 sources, so exact
    // coverage is a coupon-collector coin flip; 75% is the mixing bound
    val srcPerShard = s1.groupBy("shard")
      .agg(countDistinct(col("source")).as("n_src"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nSources = docs.select("source").distinct().count()
    assert(srcPerShard.values.forall(_ >= (nSources * 3) / 4),
      s"unmixed shards (nSources=$nSources): $srcPerShard")
  }

  test("epochOrder: epochs are complete permutations that differ from each other") {
    val docs = Tables(spark, sfDir, "documents")
    val eo = docs.epochOrder("doc_id", 2, 4, seed = "eoX").persist()
    val n = docs.count()
    // every epoch carries the whole corpus exactly once
    val perEpoch = eo.groupBy("epoch").agg(
      count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd")).collect()
    assert(perEpoch.length == 2 && perEpoch.forall(r =>
      r.getLong(1) == n && r.getLong(2) == n), s"incomplete epochs: ${perEpoch.toSeq}")
    // (shard, pos) is a key within an epoch
    assert(eo.select("epoch", "shard", "pos").distinct().count() == 2 * n)
    // the two epochs order the corpus differently (hash keyed by epoch)
    val o0 = eo.filter(col("epoch") === 0).orderBy("shard", "pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val o1 = eo.filter(col("epoch") === 1).orderBy("shard", "pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(o0 != o1, "epoch orders must differ")
    assert(o0.sorted == o1.sorted, "epochs must cover the same ids")
    eo.unpersist()
  }

  test("substringSpans verb matches tx18 and spans cover what they claim") {
    val docs = Tables(spark, sfDir, "documents")
    val viaApi = docs.substringSpans("doc_id", "text", 20).orderBy("doc_id")
    val viaOp = SparkEntry.queries("tx18_substring_spans")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // span accounting: dup_chars within [n_spans * k, len]
    val bad = viaApi.filter(col("n_spans") > 0 &&
        (col("dup_chars") < col("n_spans") * 20 || col("dup_chars") > col("len") ||
         col("max_span") > col("dup_chars"))).count()
    assert(bad == 0, "span accounting must be internally consistent")
  }

  test("bpePairs verb matches tx19 and a known corpus ranks its dominant pair first") {
    val viaApi = Tables(spark, sfDir, "documents").bpePairs("text", 20)
    val viaOp = SparkEntry.queries("tx19_bpe_merge")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    import spark.implicits._
    val tiny = Seq("aaab aaab", "aaab").toDF("text")
    // "aaab" x3 -> "aa" appears 2x per word = 6, "ab" 3 -> "aa" must rank 1
    val top = tiny.bpePairs("text", 3).collect()
    assert(top.head.getString(1) == "aa" && top.head.getLong(2) == 6L,
      s"expected ('aa', 6) first, got ${top.toSeq}")
  }

  test("bpeTrain: hand-checked merges, dry stop, prefix-stable, re-derivable from scratch") {
    import spark.implicits._
    // classic Sennrich corpus: low x3, lowest x1.
    // round 1: lo=4 ties ow=4 -> (l,o) by pair order; round 2: (lo,w)=4;
    // round 3: singles tie -> (e,s); round 4: (es,t); round 5: (low,est);
    // round 6: every word is one symbol -> dry stop at 5 merges.
    val tiny = Seq("low low low", "lowest").toDF("text")
    val m = tiny.bpeTrain("text", 6)
    assert(m.merges == Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"), ("low", "est")),
      s"hand-checked merge sequence diverged: ${m.merges}")
    assert(m.symbols.last == "lowest")
    // encode replays training's final state: every word one symbol
    val enc = tiny.bpeEncode("text", m, "syms")
      .select(explode(col("syms")).as("w")).collect().map(_.getSeq[String](0))
    assert(enc.forall(_.size == 1), s"fully-merged corpus must encode to 1 symbol/word: ${enc.toSeq}")

    // real corpus: deterministic + prefix-stable (greedy ranks are a
    // total order on exact integer counts)
    val docs = Tables(spark, sfDir, "documents").limit(120)
    val m2 = docs.bpeTrain("text", 2)
    val m4 = docs.bpeTrain("text", 4)
    assert(m4.merges.take(2) == m2.merges, "merge list must be prefix-stable")

    // N sequential merges == re-derived from scratch: encode with the
    // first 3 merges, recount adjacent pairs over the encoded corpus,
    // and the winner must be exactly merge #4 of the longer training
    val m3model = api.BpeModel(m4.merges.take(3))
    val next = docs.bpeEncode("text", m3model, "syms")
      .select(explode(col("syms")).as("ws"))
      .select(explode(when(size(col("ws")) >= 2,
        transform(sequence(lit(1), size(col("ws")) - 1),
          j => struct(element_at(col("ws"), j).as("a"),
            element_at(col("ws"), j + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("pc"))
      .orderBy(col("pc").desc, col("a"), col("b"))
      .limit(1).collect().map(r => (r.getString(0), r.getString(1))).head
    assert(next == m4.merges(3),
      s"re-derived round-4 winner $next != trained ${m4.merges(3)}")
  }

  test("substringRewrite verb matches tx24 and excises exactly the planted span") {
    val docs = Tables(spark, sfDir, "documents")
    val viaApi = docs.substringRewrite("doc_id", "text", 20).orderBy("doc_id")
    val viaOp = SparkEntry.queries("tx24_substring_rewrite")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // kept accounting agrees with the tx18 span census
    val spans = docs.substringSpans("doc_id", "text", 20)
      .select(col("doc_id"), col("dup_chars"))
    val bad = viaApi.join(spans, "doc_id")
      .filter(col("kept_chars") =!= col("len") - col("dup_chars")).count()
    assert(bad == 0, "kept_chars must equal len - dup_chars from the span census")
    // planted: two docs share one 30-char run, PLUS its flanking
    // spaces (both docs wrap it in spaces) — the coalesced island is
    // the 32-char " run " region, and the rewrite must excise exactly
    // that (the chars just outside the spaces differ between docs)
    import spark.implicits._
    val shared = "the quick brown fox jumps over"           // 30 chars
    val a = "alpha head segment 1 " + shared + " alpha tail segment 9"
    val b = "beta opening words x " + shared + " beta closing words z"
    val planted = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val rw = planted.substringRewrite("doc_id", "text", 20)
      .orderBy("doc_id").collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(rw(0).getAs[String]("rewrite_md5") ==
      md5hex("alpha head segment 1alpha tail segment 9"))
    assert(rw(1).getAs[String]("rewrite_md5") ==
      md5hex("beta opening words xbeta closing words z"))
    assert(rw(0).getAs[Long]("kept_chars") == a.length - (shared.length + 2))
  }

  test("keep-first substring rewrite keeps exactly one copy of a duplicated run") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // cross-doc: the min-(doc, pos) instance keeps — doc 1 survives
    // UNTOUCHED, doc 2 loses the shared " run " island (tx24 would
    // excise it from BOTH)
    val shared = "the quick brown fox jumps over"
    val a = "alpha head segment 1 " + shared + " alpha tail segment 9"
    val b = "beta opening words x " + shared + " beta closing words z"
    val rw = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .substringRewrite("doc_id", "text", 20, keepFirst = true)
      .orderBy("doc_id").collect()
    assert(rw(0).getAs[String]("rewrite_md5") == md5hex(a),
      "the keeper doc must survive unchanged")
    assert(rw(0).getAs[Long]("n_spans") == 0L)
    assert(rw(1).getAs[String]("rewrite_md5") ==
      md5hex("beta opening words xbeta closing words z"))
    // within-doc: the run's SECOND copy excises, the first stays.
    // Both copies are space-wrapped, so the duplicated island is
    // ' ' + run + ' ' (27 chars) — the excision eats both spaces.
    val run = "zzzz yyyy xxxx wwww vvvv!"                    // 25 chars
    val c = "first marker " + run + " middle bit " + run + " ending part"
    val rc = Seq((7L, c)).toDF("doc_id", "text")
      .substringRewrite("doc_id", "text", 20, keepFirst = true)
      .collect()(0)
    assert(rc.getAs[String]("rewrite_md5") ==
      md5hex("first marker " + run + " middle bit" + "ending part"),
      "only the second in-doc copy (plus its flanking spaces) may excise")
    assert(rc.getAs[Long]("kept_chars") == c.length - (run.length + 2))
    // and agrees with the tx26 query path
    val viaOp = SparkEntry.queries("tx26_substring_keepfirst")(spark, sfDir)
    val viaApi = Tables(spark, sfDir, "documents")
      .substringRewrite("doc_id", "text", 20, keepFirst = true).orderBy("doc_id")
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("principalDirection verb matches ss20 and finds a planted dominant axis") {
    val emb = Tables(spark, sfDir, "embeddings")
    val viaApi = emb.principalDirection("embedding", 64)
    val viaOp = SparkEntry.queries("ss20_pca_power")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted covariance: dim 1 swings +-10, the rest stay ~0 ->
    // loading must peak (|1.0|) at dim 1 and the variance diag must
    // dwarf every other dim
    import spark.implicits._
    val planted = (0 until 40).map { r =>
      val sign = if (r % 2 == 0) 10f else -10f
      Array.tabulate(8)(j => if (j == 0) sign else 0.01f * ((r + j) % 3))
    }.toDF("embedding")
    val pd = planted.principalDirection("embedding", 8).collect()
    val top = pd.maxBy(r => math.abs(r.getDouble(3)))
    assert(top.getInt(0) == 1, s"planted axis must dominate: ${pd.toSeq}")
    assert(pd.filter(_.getInt(0) != 1).forall(r =>
      math.abs(r.getDouble(3)) < 0.05), s"off-axis loadings must be small: ${pd.toSeq}")
  }

  test("asofJoin tolerance gates stale matches like ts20") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, t(1000), "e1"), (1L, t(5000), "e2"), (2L, t(5000), "e3"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, t(900), 10L), (2L, t(100), 20L)).toDF("k", "rt", "p")
    // without tolerance both of key 1's events match p=10, key 2 matches p=20
    val open = left.asofJoin(right, "k", "ts", "k", "rt", "p")
      .select("tag", "p").as[(String, Option[Long])].collect().toMap
    assert(open == Map("e1" -> Some(10L), "e2" -> Some(10L), "e3" -> Some(20L)))
    // 1000s tolerance: e1 (lag 100s) keeps its match, e2 (lag 4100s)
    // and e3 (lag 4900s) lose theirs — stale rights are NO match
    val tol = left.asofJoin(right, "k", "ts", "k", "rt", "p", toleranceS = 1000L)
      .select("tag", "p").as[(String, Option[Long])].collect().toMap
    assert(tol == Map("e1" -> Some(10L), "e2" -> None, "e3" -> None), s"got $tol")
  }

  test("asofJoin tolerance judges the time of the row that supplied the payload") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    // key 1: a STALE payload at t=100 and a fresh NULL-payload row at
    // t=4900 — the null row must not refresh the clock for the stale
    // value; the 1000s gate must reject the t=100 match.
    val left = Seq((1L, t(5000), "e1")).toDF("k", "ts", "tag")
    val right = Seq((1L, t(100), Some(10L)), (1L, t(4900), None))
      .toDF("k", "rt", "p")
    val tol = left.asofJoin(right, "k", "ts", "k", "rt", "p", toleranceS = 1000L)
      .select("tag", "p").as[(String, Option[Long])].collect().toMap
    assert(tol == Map("e1" -> None),
      s"stale payload must not ride a newer null row's timestamp: $tol")
    // and without tolerance the stale value still resolves as-of
    val open = left.asofJoin(right, "k", "ts", "k", "rt", "p")
      .select("tag", "p").as[(String, Option[Long])].collect().toMap
    assert(open == Map("e1" -> Some(10L)))
  }

  test("chunkWindows matches tx21's chunk identities and covers every word") {
    import spark.implicits._
    val docsDf = Tables(spark, sfDir, "documents")
    val viaApi = docsDf.withColumn("text", lower(col("text")))
      .chunkWindows("doc_id", "text")
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("chunk_text"), " ")).cast("int").as("chunk_words"),
        substring(md5(col("chunk_text")), 1, 8).as("chunk_fp8"))
      .orderBy("doc_id", "chunk_idx")
    val viaOp = SparkEntry.queries("tx21_chunk")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // stride 24 < width 32: consecutive chunks overlap by 8 words, so
    // every word of a 2-chunk doc appears in some chunk (coverage) and
    // chunk 1 starts 24 words in (identity), never at word 32
    val two = Seq((1L, (1 to 40).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text").chunkWindows("doc_id", "text")
      .orderBy("chunk_idx").collect()
    assert(two.length == 2)
    assert(two(1).getString(2).startsWith("w25 "), s"stride must be 24: ${two(1)}")
    assert(two(0).getString(2).endsWith(" w32"), s"width must be 32: ${two(0)}")
  }

  test("tfidfTopK matches tx22 and ranks rare-term docs above common-term docs") {
    val docsDf = Tables(spark, sfDir, "documents")
    val viaApi = docsDf.withColumn("text", lower(col("text")))
      .tfidfTopK("doc_id", "text", Seq("vector", "join", "scan"))
    val viaOp = SparkEntry.queries("tx22_tfidf_search")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // idf discrimination: a doc with the corpus-rare term must outrank
    // a doc with the corpus-common term at equal tf
    import spark.implicits._
    val corpus = (Seq((1L, "rare common"), (2L, "common common common")) ++
      (10L to 29L).map(i => (i, "common filler"))).toDF("doc_id", "text")
    val top = corpus.tfidfTopK("doc_id", "text", Seq("rare", "common"), k = 2)
      .collect()
    assert(top.head.getLong(0) == 1L,
      s"the rare-term doc must rank first: ${top.toSeq}")
  }

  test("rrfFuse matches ss21's fusion and is symmetric in its inputs") {
    import org.apache.spark.sql.expressions.Window
    val docsDf = Tables(spark, sfDir, "documents").withColumn("text", lower(col("text")))
    val emb = Tables(spark, sfDir, "embeddings")
    val lex = docsDf.tfidfTopK("doc_id", "text", Seq("vector", "join", "scan"), k = 50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
    val q = emb.filter(col("vec_id") === 7).select(col("embedding").as("q_emb"))
    val vec = emb.cosineTopK("embedding", q, "q_emb", 50, "vec_id")
      .withColumnRenamed("vec_id", "doc_id")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id"))))
    val fused = vec.rrfFuse(lex, "doc_id")
      .select("doc_id", "rank_a", "rank_b", "rrf_micro")
    val viaOp = SparkEntry.queries("ss21_hybrid_rrf")(spark, sfDir)
      .select("doc_id", "vec_rank", "lex_rank", "rrf_micro")
    assert(fused.collect().toSeq == viaOp.collect().toSeq)
    // fusion is rank-based, so swapping the retrievers permutes only
    // the rank columns, never the fused scores or the selected ids
    val swapped = lex.rrfFuse(vec, "doc_id")
      .select("doc_id", "rrf_micro").collect().toSeq
    assert(swapped == fused.select("doc_id", "rrf_micro").collect().toSeq)
  }

  test("ivfpqTopK verb answers a query batch identically to the ss22 serving query") {
    val e = Tables(spark, sfDir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val viaApi = e.ivfpqTopK("vec_id", "embedding", qs, "q_id", "embedding",
        k = 3, nprobe = 2, shortlist = 10, excludeSelf = true)
      .orderBy("q_id", "rank")
    val viaOp = SparkEntry.queries("ss22_ivfpq_batch")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("kmeansTrain converges to a stable fixpoint that batch recompute reproduces") {
    import spark.implicits._
    // three planted well-separated clusters in 8 dims, 20 points each
    val pts = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(j => if (j == c) 10f else 0f)
      // small deterministic jitter so centroids are non-trivial
      base(3 + c) = 0.1f * (i / 3 % 5)
      (i.toLong, base.toSeq.toArray)
    }.toDF("id", "v")
    val m = pts.kmeansTrain("id", "v", k = 3, maxIter = 10, epsMilli = 0L)
    assert(m.converged, s"planted clusters must converge: shifts=${m.shiftsMilli}")
    assert(m.shiftsMilli.last == 0L, s"converged means zero final shift: ${m.shiftsMilli}")
    // shift is monotone non-increasing on this data — the Lloyd
    // descent property the training loop reports per iteration
    assert(m.shiftsMilli.zip(m.shiftsMilli.tail).forall { case (a, b) => b <= a },
      s"shifts must not increase: ${m.shiftsMilli}")
    // fixpoint = batch recompute: re-assigning with the trained
    // centroids and recomputing centroids reproduces them exactly
    val assigned = pts.kmeansAssign("v", m.centroids)
    val recomputed = assigned
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), col("pos"),
        floor(col("col").cast("double") * 100 + 0.5).cast("long").as("vq"))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("vq")).cast("double") / (count(lit(1)) * 100)).as("c"))
    val a = m.centroids.orderBy("cell", "pos")
      .as[(Long, Int, Double)].collect().toSeq
    val b = recomputed.orderBy("cell", "pos")
      .as[(Long, Int, Double)].collect().toSeq
    assert(a == b, s"stable fixpoint must equal batch recompute:\n$a\n$b")
    // every point lands in the cell of its planted cluster-mates
    val cellsPerCluster = assigned
      .select((col("id") % 3).as("planted"), col("cell"))
      .distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(cellsPerCluster.values.forall(_ == 1),
      s"each planted cluster must map to exactly one cell: $cellsPerCluster")
  }

  test("kmeansppSeed: D²-weighted seeds start the loop at least as settled as hash partitions") {
    import spark.implicits._
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    val (k, iters) = (10, 8)
    val pp = e.kmeansppSeed("vec_id", "embedding", k)
    // shape: k cells x 64 dims, each seed an actual corpus vector
    assert(pp.select("cell").distinct().count() == k)
    assert(pp.count() == k * 64L)
    // determinism: the md5-weighted draw is a function of the data only
    assert(pp.orderBy("cell", "pos").collect().toSeq ==
      e.kmeansppSeed("vec_id", "embedding", k).orderBy("cell", "pos").collect().toSeq)
    val mpp = e.kmeansTrain("vec_id", "embedding", k, maxIter = iters,
      epsMilli = 0L, init = Some(pp))
    val mh = e.kmeansTrain("vec_id", "embedding", k, maxIter = iters,
      epsMilli = 0L)
    // the seeding pin, measured on this data (both seedings trained
    // at each budget, final shifts and assignment SSE compared): (a)
    // the D² seed's final shift <= hash's at the same budget (here pp
    // CONVERGES — 0 — while hash is still moving; at tiny budgets the
    // raw-shift comparison is noise because pp seeds are actual corpus
    // points, so the budget is set where the claim is structural), and
    // (b) trained SSE is <= hash's at the same budget — the kmeans++
    // O(log k)-competitiveness this seeding exists for, which held at
    // EVERY probed budget (1/3/5/8 iters). Deterministic md5 draw +
    // deterministic data => a stable regression pin.
    assert(mpp.shiftsMilli.last <= mh.shiftsMilli.last,
      s"kmeans++ must end at least as settled: pp=${mpp.shiftsMilli} hash=${mh.shiftsMilli}")
    def sse(cen: org.apache.spark.sql.DataFrame): Double = {
      val cents = cen.groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          st => st.getField("c")).as("cvec"))
        .agg(array_sort(collect_list(struct(col("cell"), col("cvec")))).as("cents"))
      e.crossJoin(broadcast(cents))
        .select(array_min(transform(col("cents"),
          cc => graft.functions.VectorFunctions.l2distSq(col("embedding"), cc.getField("cvec")))).as("d2"))
        .agg(sum(col("d2"))).head.getDouble(0)
    }
    val (spp, sh) = (sse(mpp.centroids), sse(mh.centroids))
    assert(spp <= sh, s"kmeans++ must not train to a worse SSE: pp=$spp hash=$sh")
  }

  test("fuzzyPairs verb matches dd17's pair set and catches planted typos") {
    import spark.implicits._
    val viaApi = Tables(spark, sfDir, "part")
      .fuzzyPairs("p_name", maxDist = 3, minSharedGrams = 2L)
      .select("a", "b", "lev", "shared_grams").orderBy("a", "b")
    val viaOp = SparkEntry.queries("dd17_fuzzy_match")(spark, sfDir)
      .select("a", "b", "lev", "shared_grams")
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted registry: one typo pair (lev 1, long shared runs), one
    // unrelated name that must NOT match anything
    val reg = Seq("acme widget corp", "acme wdget corp", "zzz unrelated")
      .toDF("n")
    val pairs = reg.fuzzyPairs("n", maxDist = 2).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[String]("a") == "acme wdget corp" &&
      pairs(0).getAs[String]("b") == "acme widget corp" &&
      pairs(0).getAs[Int]("lev") == 1, s"typo pair expected: ${pairs.toSeq}")
  }

  test("perceptronTrain converges to zero errors on separable data and replays tx27") {
    import spark.implicits._
    // teacher y = sign(2*x1 - x2 + b) with bias FEATURE 50 and margin
    // >= 40: the batch mistake bound is (R/γ)², so the fixture needs a
    // healthy margin-to-radius ratio (γ≈16, R≈87 here → ~30 rounds);
    // a thin-margin set provably takes ~500k rounds and looks like
    // oscillation
    val pts = (0 until 120).map { i =>
      val (x1, x2) = ((i * 37) % 101 - 50, (i * 53) % 103 - 51)
      val m = 2L * x1 - x2 + 50
      (x1.toLong, x2.toLong, 50L, if (m > 0) 1L else -1L)
    }.filter { case (x1, x2, _, _) => math.abs(2L * x1 - x2 + 50) >= 40 }
    val df = pts.toDF("x1", "x2", "b", "y")
    val m = df.perceptronTrain(Seq("x1", "x2", "b"), "y", iters = 200)
    assert(m.converged, s"separable data must converge: errs=${m.errs}")
    // the learned gate reproduces the teacher on the training set
    val scored = df.perceptronScore(Seq("x1", "x2", "b"), m)
    assert(scored.filter((col("pred") === (col("y") === 1L)) === false).count() == 0)
    // fixed-iteration replay mode reproduces the registered query
    val feats = graft.operators.Curation.qualityFeatureFrame(
      Tables(spark, sfDir, "documents"))
    val m3 = feats.perceptronTrain(Seq("f1", "f2", "f3", "f4", "f5"), "y",
      iters = 3, stopAtZero = false)
    val viaOp = SparkEntry.queries("tx27_quality_train")(spark, sfDir)
      .orderBy("iter").collect()
    assert(viaOp.last.toSeq.drop(2) == m3.weights, "verb weights == query weights")
    assert(viaOp.map(_.getAs[Long]("n_mis")).toSeq == m3.errs,
      "verb error curve == query error curve")
  }

  test("fuzzyPairs stop-gram cap drops only pairs whose shared grams are all stop-grams") {
    import spark.implicits._
    // five names share the ' corp' suffix => its grams are stop-grams
    // (df 5); 'aa corp'/'ab corp' are lev-1 but share ONLY suffix
    // grams, while the acme typo pair also shares discriminative ones
    val reg = Seq("acme widget corp", "acme wdget corp",
      "aa corp", "ab corp", "zzz corp").toDF("n")
    def pairs(cap: Long) = reg.fuzzyPairs("n", maxDist = 2, maxGramDf = cap)
      .select("a", "b").as[(String, String)].collect().toSet
    val uncapped = pairs(Long.MaxValue)
    assert(uncapped == Set(("aa corp", "ab corp"),
      ("acme wdget corp", "acme widget corp")), s"uncapped: $uncapped")
    val capped = pairs(4L)
    assert(capped == Set(("acme wdget corp", "acme widget corp")),
      s"capping df>4 grams must lose exactly the suffix-only pair: $capped")
  }

  test("attribution verb matches ts30") {
    val viaApi = Tables.events(spark, sfDir)
      .attribution("user_id", "ts", "event_id",
        touchLabel = col("event_type"),
        isTouch = col("event_type").isin("view", "click"),
        isConversion = col("event_type") === "purchase",
        valueCents = round(col("value") * 100).cast("long"))
      .orderBy("last_touch", "first_touch")
    val viaOp = SparkEntry.queries("ts30_attribution")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("changepoint verb matches ts28 and locates a planted level shift") {
    val viaApi = Tables.events(spark, sfDir)
      .changepoint("event_type", "ts", "event_id", "value", scale = 100)
      .orderBy("event_type")
      .withColumnRenamed("cp_event_id", "cp_tie")
    val viaOp = SparkEntry.queries("ts28_changepoint")(spark, sfDir)
      .withColumnRenamed("cp_event_id", "cp_tie")
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted shift: level 1.00 for rows 1..50, 9.00 for rows 51..100 —
    // |CUSUM| peaks exactly at the boundary (rn=50), dev negative
    // (first half below the mean), means split 100 vs 900 milli-cents
    import spark.implicits._
    val planted = (1 to 100).map(i =>
      (1L, new java.sql.Timestamp(i * 60000L), i.toLong,
        if (i <= 50) 1.0 else 9.0))
      .toDF("k", "t", "tie", "v")
    val cp = planted.changepoint("k", "t", "tie", "v").collect()(0)
    assert(cp.getAs[Long]("cp_rn") == 50L, s"shift boundary expected: $cp")
    assert(cp.getAs[Long]("dev") < 0L)
    assert(cp.getAs[Long]("mean_before_milli") == 100000L &&
      cp.getAs[Long]("mean_after_milli") == 900000L, s"mean split: $cp")
  }

  test("assocRules verb matches ts29 and computes a hand-checked lift") {
    val viaApi = Tables.events(spark, sfDir)
      .assocRules("user_id", "event_type").orderBy("a", "b")
    val viaOp = SparkEntry.queries("ts29_assoc")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // 4 users: {x,y} {x,y} {x} {y} — n_xy=2, n_x=3, n_y=3, N=4:
    // support 500, conf 666 both ways, lift = ((2*4) DIV 3)*1000 DIV 3 = 666
    import spark.implicits._
    val baskets = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (4L, "y")).toDF("u", "item")
    val r = baskets.assocRules("u", "item").collect()(0)
    assert(r.getAs[String]("a") == "x" && r.getAs[String]("b") == "y")
    assert(r.getAs[Long]("n_ab") == 2L && r.getAs[Long]("n_users") == 4L)
    assert(r.getAs[Long]("support_milli") == 500L &&
      r.getAs[Long]("conf_ab_milli") == 666L &&
      r.getAs[Long]("lift_milli") == 666L, s"hand-checked metrics: $r")
  }

  test("mrlTopK verb answers a query batch identically to the ss25 query") {
    val e = Tables(spark, sfDir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val viaApi = e.mrlTopK("vec_id", "embedding", qs, "q_id", "embedding",
        prefixDims = 16, shortlist = 40, k = 10, excludeSelf = true)
      .orderBy("q_id", "rank")
    val viaOp = SparkEntry.queries("ss25_mrl_prefix")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
  }

  test("cellBalance verb matches ss26's report shape on a skewed assignment") {
    import spark.implicits._
    // 9 + 2 + 1 members over 3 cells: cell 0 holds >2x the uniform
    // share (the flag is STRICT — exactly-2x is the boundary, not over)
    val assigned = ((1 to 9).map(i => (i.toLong, 0)) ++
      Seq((10L, 1), (11L, 1), (12L, 2))).toDF("id", "cell")
    val r = assigned.cellBalance("cell").orderBy("cell").collect()
    assert(r.map(_.getAs[Long]("n")).toSeq == Seq(9L, 2L, 1L))
    assert(r(0).getAs[Boolean]("oversized") && !r(1).getAs[Boolean]("oversized"))
    assert(r(0).getAs[Long]("balance_milli") == 2250L &&
      r(1).getAs[Long]("balance_milli") == 500L)
    assert(r.map(_.getAs[Long]("share_milli")).sum >= 998L)
  }

  test("mmrTopK verb matches ss29 and prefers the diverse hit over the clone") {
    import spark.implicits._
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    // mirror ss29's batch EXACTLY, including its < 5000 id cap — the
    // equality below would spuriously fail if the fixture grew past
    // vec_id 5000 while this filter lacked the bound
    val q = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val viaApi = e.mmrTopK("vec_id", "embedding", q, "qid", "qemb")
      .orderBy("q_id", "pick")
    val viaOp = SparkEntry.queries("ss29_mmr")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: 1 and 2 are near-clones closest to the query, 3 is a
    // diverse direction with decent relevance — plain relevance ranks
    // (1, 2); MMR's second pick must skip the clone and take 3
    val corpus = Seq(
      (1L, Array(1.0f, 0.02f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.03f, 0.0f, 0.0f)),
      (3L, Array(0.5f, 0.86f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val query = Seq((100L, Array(1.0f, 0.3f, 0.0f, 0.0f))).toDF("qid", "qemb")
    val picks = corpus.mmrTopK("vec_id", "embedding", query, "qid", "qemb",
        shortlist = 3, k = 2)
      .orderBy("pick").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(picks.head == 1L || picks.head == 2L, "pick 1 is a clone (max relevance)")
    assert(picks(1) == 3L, s"pick 2 must be the diverse vector, got $picks")
  }

  test("mmr greedy kernel: ties break to the smaller id and short batches stop early") {
    import spark.implicits._
    // two EQUAL vectors tie on relevance: pick 1 must take the smaller
    // id (the rank window's vec_id tie-break); with only 2 candidates
    // and k = 4 the picks stop at 2 (the composed form's inner penalty
    // join yielded no rows once every candidate was selected)
    val corpus = Seq(
      (7L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val query = Seq((100L, Array(1.0f, 0.0f))).toDF("qid", "qemb")
    val picks = corpus.mmrTopK("vec_id", "embedding", query, "qid", "qemb",
        shortlist = 8, k = 4)
      .orderBy("pick").collect()
    assert(picks.length == 2, "picks must stop at the candidate count")
    assert(picks(0).getAs[Long]("vec_id") == 3L, "tie breaks to the smaller id")
    assert(picks(1).getAs[Long]("vec_id") == 7L)
    // identical vectors: sim = 1000 milli, so pick 2's mmr = rel - 1000
    assert(picks(1).getAs[Long]("mmr_milli") == picks(1).getAs[Long]("rel_milli") - 1000L)
  }

  test("balancedShards verb: snake sums within one max-item of ideal, beats hash sharding") {
    import spark.implicits._
    val t = Tables.spread(Tables(spark, sfDir, "documents"))
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val n = 8
    val sums = t.balancedShards("doc_id", "n_tok", n)
      .groupBy("shard").agg(sum(col("n_tok")).as("s"))
      .collect().map(r => r.getAs[Int]("shard") -> r.getAs[Long]("s")).toMap
    assert(sums.keySet == (0 until n).toSet, "every shard is used")
    val maxTok = t.agg(max(col("n_tok"))).collect().head.getLong(0)
    assert(sums.values.max - sums.values.min <= 2 * maxTok,
      s"snake spread ${sums.values.max - sums.values.min} exceeds 2x max item $maxTok")
    // the whole point: work spread beats count-balanced hash sharding
    val hashSums = t.shardAssign("doc_id", n)
      .groupBy("shard").agg(sum(col("n_tok")).as("s"))
      .collect().map(_.getAs[Long]("s"))
    assert(sums.values.max - sums.values.min <= hashSums.max - hashSums.min,
      "token-balanced must not be worse than hash sharding on token spread")
    // manifest partitions the corpus exactly
    assert(t.balancedShards("doc_id", "n_tok", n).count() == t.count())
  }

  test("autocorrReport verb matches ts36 and scores a planted alternating series exactly") {
    val viaApi = Tables.events(spark, sfDir)
      .autocorrReport("ts", maxLag = 3).orderBy("lag_k")
    val viaOp = SparkEntry.queries("ts36_autocorr")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted series: day i carries 1 event if i is even, 5 if odd,
    // n = 10 days. With mean 3 and y = n·x − S = ±20, lag-1 pairs all
    // anti-correlate (r1 = −(n−1)/n → −900 milli truncated) and lag-2
    // pairs all agree (r2 = (n−2)/n → 800 milli)
    import spark.implicits._
    val ts = (0 until 10).flatMap { day =>
      val k = if (day % 2 == 0) 1 else 5
      (0 until k).map(j => new java.sql.Timestamp((day * 86400L + j) * 1000L))
    }
    val r = ts.toDF("ts").autocorrReport("ts", maxLag = 2)
      .orderBy("lag_k")
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1, 9L, -900L), (2, 8L, 800L)), s"got $r")
  }

  test("curriculum verb matches sp10 and widens pools over a planted band spread") {
    val viaApi = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("tok_cnt"))
      .curriculum("doc_id", "tok_cnt", bandWidth = 32, nPhases = 4)
      .orderBy("phase", "pos")
    val viaOp = SparkEntry.queries("sp10_curriculum")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted difficulties 0/10/20/30 at bandWidth 10: phase p holds
    // exactly p+1 docs, and the band caps at nPhases-1
    import spark.implicits._
    val tiny = Seq((1L, 0), (2L, 10), (3L, 20), (4L, 39))
      .toDF("doc_id", "difficulty")
      .curriculum("doc_id", "difficulty", bandWidth = 10, nPhases = 3)
    val sizes = tiny.groupBy("phase").count().orderBy("phase")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(sizes == Seq((0, 1L), (1, 2L), (2, 4L)), s"got $sizes")
    assert(tiny.agg(max(col("band"))).head.getInt(0) == 2, "band must cap at nPhases-1")
  }

  test("pagerank verb follows the integer recurrence exactly on a planted graph") {
    import spark.implicits._
    // edges 1→2, 3→2, 2→1 (outdeg 1 each). Hand-unrolled micro-ranks:
    // round 1: r(2) = 150000 + 850·2,000,000/1000 = 1,850,000;
    //          r(1) = 1,000,000; r(3) = 150,000 (no inflow)
    // round 2: r(1) = 150000 + 850·1,850,000/1000 = 1,722,500;
    //          r(2) = 150000 + 850·1,150,000/1000 = 1,127,500; r(3) = 150,000
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("a", "b")
    val got = edges.pagerank("a", "b", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1722500L, 2L -> 1127500L, 3L -> 150000L), s"got $got")
    // one round must match the first unrolled step
    val one = edges.pagerank("a", "b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1000000L, 2L -> 1850000L, 3L -> 150000L), s"got $one")
  }

  test("oodAudit verb matches ss32 and flags a planted far outlier") {
    val viaApi = Tables(spark, sfDir, "embeddings")
      .oodAudit("vec_id", "embedding", "label", qMilli = 950)
      .withColumnRenamed("vec_id", "v").orderBy(col("cell"), col("qd").desc, col("v"))
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val viaOp = SparkEntry.queries("ss32_ood_audit")(spark, sfDir)
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(viaApi == viaOp)
    // planted: 40 identical vectors + one far outlier in one label —
    // the identical base all sits exactly AT the p95 distance (never
    // strictly beyond), so the outlier must be flagged, and nothing else
    import spark.implicits._
    val base = (0 until 40).map(i => (i.toLong, Array(1.0f, 1.0f), 0))
    val out = Seq((99L, Array(9.0f, 9.0f), 0))
    val flagged = (base ++ out).toDF("vec_id", "embedding", "label")
      .oodAudit("vec_id", "embedding", "label")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(flagged == Seq(99L), s"got $flagged")
  }

  test("giniReport verb matches ts33 and scores hand-built distributions") {
    import spark.implicits._
    val viaApi = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("n_ev"))
      .giniReport("event_type", "user_id", "n_ev")
      .orderBy("event_type")
    val viaOp = SparkEntry.queries("ts33_gini")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // uniform distribution -> gini 0; one whale holding ~everything
    // -> gini near its n-bounded maximum (n-1)/n
    val uni = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("a", 3L, 5L), ("a", 4L, 5L))
      .toDF("g", "m", "x").giniReport("g", "m", "x").collect()
    assert(uni.head.getAs[Long]("gini_milli") == 0L)
    val whale = (1L to 9L).map(i => ("a", i, 1L)) :+ (("a", 10L, 991L))
    val w = whale.toDF("g", "m", "x").giniReport("g", "m", "x").collect()
    assert(w.head.getAs[Long]("gini_milli") >= 850L,
      s"whale distribution must read near-max gini, got ${w.head}")
    assert(w.head.getAs[Long]("top_decile_milli") == 991L)
  }

  test("conversionLag verb matches ts34 and buckets a hand-built pair of users") {
    import spark.implicits._
    val viaApi = Tables.events(spark, sfDir)
      .conversionLag("user_id", "ts",
        isStart = col("event_type") === "signup",
        isConvert = col("event_type") === "purchase")
      .orderBy("lag_days")
    val viaOp = SparkEntry.queries("ts34_conversion_lag")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 converts 36h after signup (lag_days 1), u2 never converts
    // (its only purchase PRECEDES signup — must not count), u3 same-day
    val e = Seq(
      (1L, t("2024-01-01 06:00:00"), "signup"), (1L, t("2024-01-02 18:00:00"), "purchase"),
      (2L, t("2024-01-05 12:00:00"), "purchase"), (2L, t("2024-01-06 12:00:00"), "signup"),
      (3L, t("2024-01-03 08:00:00"), "signup"), (3L, t("2024-01-03 09:00:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val r = e.conversionLag("user_id", "ts",
        col("event_type") === "signup", col("event_type") === "purchase")
      .orderBy("lag_days").collect()
      .map(x => (x.getAs[Long]("lag_days"), x.getAs[Long]("n_conv"),
        x.getAs[Long]("cum_conv"), x.getAs[Long]("n_signups"),
        x.getAs[Long]("survival_milli")))
    assert(r.toSeq == Seq((0L, 1L, 1L, 3L, 666L), (1L, 1L, 2L, 3L, 333L)))
  }

  test("stickiness verb matches ts31 and computes a hand-checked week") {
    import spark.implicits._
    val viaApi = Tables.events(spark, sfDir).stickiness("user_id", "ts").orderBy("week")
    val viaOp = SparkEntry.queries("ts31_stickiness")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // hand frame: week of Mon 2024-01-01; u1 active Mon+Tue, u2 Mon
    // (two events same day collapse) -> n_days=2, sum_dau=3, wau=2,
    // stickiness = 3000 / (2*2) = 750
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, t("2024-01-01 09:00:00")), (1L, t("2024-01-02 09:00:00")),
      (2L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 23:00:00")))
      .toDF("user_id", "ts")
    val r = e.stickiness("user_id", "ts").collect()
    assert(r.length == 1)
    assert((r(0).getAs[String]("week"), r(0).getAs[Long]("n_days"),
      r(0).getAs[Long]("sum_dau"), r(0).getAs[Long]("wau"),
      r(0).getAs[Long]("stickiness_milli")) == (("2024-01-01", 2L, 3L, 2L, 750L)))
  }

  test("ltvMatrix verb matches ts32 and accumulates a hand-built cohort") {
    import spark.implicits._
    val viaApi = Tables.events(spark, sfDir)
      .ltvMatrix("user_id", "ts",
        isRevenue = col("event_type") === "purchase",
        valueCents = round(col("value") * 100).cast("long"))
      .orderBy("cohort_day", "age_day")
    val viaOp = SparkEntry.queries("ts32_ltv")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // u1+u2 cohort Jan-1 (u2 via a free signup); u1 buys 100c on day 0
    // and 50c on day 2 -> cum 100, 150; per-user milli 50000, 75000
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      (1L, t("2024-01-01 09:00:00"), "purchase", 1.00),
      (2L, t("2024-01-01 09:30:00"), "signup", 0.0),
      (1L, t("2024-01-03 09:00:00"), "purchase", 0.50))
      .toDF("user_id", "ts", "event_type", "value")
    val r = e.ltvMatrix("user_id", "ts", col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))
      .orderBy("age_day").collect()
      .map(x => (x.getAs[String]("cohort_day"), x.getAs[Long]("age_day"),
        x.getAs[Long]("cum_cents"), x.getAs[Long]("ltv_milli_cents")))
    assert(r.toSeq == Seq(("2024-01-01", 0L, 100L, 50000L),
      ("2024-01-01", 2L, 150L, 75000L)))
  }

  test("knnGraph verb matches ss28 and links planted mutual neighbors") {
    import spark.implicits._
    // the registered ss28 = hashCells (corpus-scaled cell count) +
    // the knnGraphByCell core
    val viaApi = Tables.spread(Tables(spark, sfDir, "embeddings"))
      .hashCells("vec_id", "embedding", targetCellSize = 64)
      .knnGraphByCell("vec_id", "embedding", "cell")
      .orderBy("vec_id", "rank")
    val viaOp = SparkEntry.queries("ss28_knn_graph")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // hashCells scales the cell COUNT with the corpus, not cell size:
    // n/targetCellSize cells, every cell index in [0, n_cells)
    val cellsDf = Tables.spread(Tables(spark, sfDir, "embeddings"))
      .hashCells("vec_id", "embedding", targetCellSize = 64)
    val n = cellsDf.count()
    val expCells = math.max(1L, n / 64)
    val stats = cellsDf.groupBy("cell").count()
      .agg(org.apache.spark.sql.functions.max("cell").as("maxc"),
        org.apache.spark.sql.functions.max("count").as("maxn")).head
    assert(stats.getAs[Int]("maxc") < expCells)
    // md5 spreads ids near-uniformly: no cell more than 3x the target
    assert(stats.getAs[Long]("maxn") <= 3 * 64,
      s"hash cell overweight: ${stats.getAs[Long]("maxn")}")
    // planted: 1 and 2 nearly parallel, 3 orthogonal-ish, same label
    // cell; 4 alone in its own cell (no rows)
    val vs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (4L, Array(-10.0f, -10.0f, -10.0f, -10.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val g = vs.knnGraph("vec_id", "embedding", "label", k = 1).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("nbr_id")).toMap
    assert(g(1L) == 2L && g(2L) == 1L, "parallel vectors must be mutual 1-NNs")
    assert(!g.contains(4L), "a singleton cell has no neighbors")
  }

  test("simhashPairs auto-selects the non-saturating width from the corpus count") {
    import graft.operators.Dedup
    // the saturation contract itself — the documented thresholds
    assert(Dedup.simhashWidthFor(999999L) == 64)
    assert(Dedup.simhashWidthFor(1000000L) == 128)
    assert(Dedup.simhashWidthFor(999999999L) == 128)
    assertThrows[IllegalArgumentException](Dedup.simhashWidthFor(1000000000L))
    val docsDf = Tables.spread(Tables(spark, sfDir, "documents"))
    // auto on a sub-10^6 corpus = the 64-bit banded tier = dd19
    val auto = docsDf.simhashPairs("doc_id", "text").orderBy("a", "b")
      .collect().toSeq
    val dd19 = SparkEntry.queries("dd19_simhash64_bands")(spark, sfDir)
      .select(col("a"), col("b"), col("hamming")).collect().toSeq
    assert(auto == dd19, "auto width must be dd19's 64-bit tier below 10^6 docs")
    // explicit overrides run the requested tier (128 = dd20's pairs)
    val w128 = docsDf.simhashPairs("doc_id", "text", width = 128)
      .orderBy("a", "b").collect().toSeq
    val dd20 = SparkEntry.queries("dd20_simhash128_bands")(spark, sfDir)
      .select(col("a"), col("b"), col("hamming")).collect().toSeq
    assert(w128 == dd20)
    assertThrows[IllegalArgumentException](
      docsDf.simhashPairs("doc_id", "text", width = 32).collect())
  }

  test("hierCells verb matches ss30 and refines to the true within-cell argmin") {
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    val viaApi = e.hierCells("vec_id", "embedding", "label").orderBy("vec_id")
    val viaOp = SparkEntry.queries("ss30_ivf_hier")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // structural property: stage 2 is the exact argmin among the
    // vector's OWN top cell's sub-centroids — recompute naively from
    // the same sample definition and compare
    val rows = viaApi.collect()
      .map(r => r.getAs[Long]("vec_id") -> ((r.getAs[Int]("cell1"), r.getAs[Int]("cell2"))))
      .toMap
    assert(rows.size == e.count(), "every vector is assigned")
    val cells2 = rows.values.map(_._2).toSet
    assert(cells2.subsetOf(Set(-1, 0, 1, 2, 3)), s"sub index domain: $cells2")
    // at this corpus every top cell attracts sample members in >1 sub
    // split, so refinement is real (not all -1 / not all one value)
    assert(cells2.intersect(Set(0, 1, 2, 3)).size >= 2,
      "refinement must actually split cells")
  }

  test("labelPropagate verb matches ss31 and follows majority/tie/round rules on a planted graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // verb == registered query over the real corpus graph
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    val g = e.hashCells("vec_id", "embedding", targetCellSize = 64)
      .knnGraphByCell("vec_id", "embedding", "cell")
      .select(col("vec_id"), col("nbr_id"))
    val seeds = e.filter(col("vec_id") % 10 === 0).select(col("vec_id"), col("label"))
    val viaApi = g.labelPropagate("vec_id", "nbr_id", seeds, "vec_id", "label")
      .join(e.select(col("vec_id"), col("label").as("true_label")), "vec_id")
      .withColumn("correct", col("label") === col("true_label"))
      .select(col("vec_id"), col("label"), col("round"), col("correct"))
      .orderBy("vec_id")
    val viaOp = SparkEntry.queries("ss31_label_prop")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: 10 is a seed labeled 7; chain 10 <- 20 <- 30 reaches
    // label 7 in rounds 1 and 2; 40 sees labels 7 and 9 once each —
    // the tie must go to the SMALLER label; 50 has no labeled
    // neighbor and stays unlabeled
    val edges = Seq((20L, 10L), (30L, 20L), (40L, 10L), (40L, 11L), (50L, 60L))
      .toDF("vec_id", "nbr_id")
    val sd = Seq((10L, 7), (11L, 9)).toDF("vec_id", "label")
    val out = edges.labelPropagate("vec_id", "nbr_id", sd, "vec_id", "label")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("label"), r.getAs[Int]("round")))).toMap
    assert(out(10L) == ((7, 0)) && out(11L) == ((9, 0)), "seeds keep round 0")
    assert(out(20L) == ((7, 1)), "direct neighbor labels in round 1")
    assert(out(30L) == ((7, 2)), "chain end labels in round 2 via the new round-1 label")
    assert(out(40L) == ((7, 1)), "a 7-vs-9 tie goes to the smaller label")
    assert(!out.contains(50L), "a node with no labeled neighbor stays unlabeled")
  }

  test("hierCells composes with knnGraphByCell as a trained blocked-knn cell source") {
    import org.apache.spark.sql.functions._
    // the ss30 -> ss28-core wiring: (cell1, cell2) composite cells
    // block the knn graph with TRAINED locality. NOT registered as a
    // query on purpose: the label-seeded top level is fixed-count, so
    // at a 64x blowup this exact composition would re-grow cell sizes
    // 64x — the knee ss28's hashCells re-registration removed. The
    // scale-honest trained form trains k1 ~ sqrt(n) top centroids
    // (kmeansTrain); this test pins the WIRING on the fixed corpus.
    val e = Tables.spread(Tables(spark, sfDir, "embeddings"))
    val cells = e.hierCells("vec_id", "embedding", "label")
      .select(col("vec_id"),
        (col("cell1") * 16 + col("cell2") + 1).cast("int").as("hcell"))
    val g = e.join(cells, "vec_id")
      .knnGraphByCell("vec_id", "embedding", "hcell", k = 2)
    val rows = g.collect()
    assert(rows.nonEmpty)
    // neighbors stay within the composite cell, ranks contiguous
    val byV = rows.groupBy(_.getAs[Long]("vec_id"))
    byV.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      assert(rs.map(_.getAs[Int]("cell")).distinct.length == 1)
    }
    // the trained blocking is finer than the top level alone: more
    // distinct cells than labels
    assert(rows.map(_.getAs[Int]("cell")).distinct.length >
      e.select(col("label")).distinct.count())
  }

  test("softDedupWeights verb matches dd18 and halves a planted clone pair") {
    val viaApi = Tables.spread(Tables(spark, sfDir, "documents"))
      .softDedupWeights("doc_id", "text").orderBy("doc_id")
    val viaOp = SparkEntry.queries("dd18_soft_dedup")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "totally different words that share nothing with the clones at all"))
      .toDF("doc_id", "text")
    val w = docs.softDedupWeights("doc_id", "text").collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("weight_milli")).toMap
    assert(w(1L) == 500L && w(2L) == 500L, "a clone pair is weighted 1/2 each")
    assert(w(3L) == 1000L, "a unique doc keeps full weight")
  }

  test("fuzzyPairs auto-selects the non-saturating gram width from the registry size") {
    import graft.operators.Dedup
    // the dd19/simhashWidthFor contract applied to the q-gram blocker:
    // thresholds pinned so the rule cannot drift silently
    assert(Dedup.fuzzyGramWidthFor(99999L) == 3)
    assert(Dedup.fuzzyGramWidthFor(100000L) == 4)
    assert(Dedup.fuzzyGramWidthFor(9999999L) == 4)
    assert(Dedup.fuzzyGramWidthFor(10000000L) == 5)
    assert(Dedup.fuzzyGramWidthFor(999999999L) == 5)
    assertThrows[IllegalArgumentException](Dedup.fuzzyGramWidthFor(1000000000L))
    // auto == explicit q=3 on a sub-10^5 registry (the part names)
    val reg = Tables(spark, sfDir, "part")
    val auto = reg.fuzzyPairs("p_name", maxDist = 3).orderBy("a", "b")
    val q3 = reg.fuzzyPairs("p_name", maxDist = 3, gramWidth = 3).orderBy("a", "b")
    assert(auto.collect().toSeq == q3.collect().toSeq)
    // the wider tiers keep the completeness contract on registry-length
    // names: the planted lev-1 typo pair (16 chars — shares
    // 16−4+1−2·4 = 5 >= 2 grams at q=4, 16−5+1−2·5 = 2 >= 2 at q=5)
    // survives at every auto-selectable width
    import spark.implicits._
    val tiny = Seq("acme widget corp", "acme wdget corp", "zzz unrelated").toDF("n")
    Seq(3, 4, 5).foreach { q =>
      val p = tiny.fuzzyPairs("n", maxDist = 2, gramWidth = q)
        .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(p == Set(("acme wdget corp", "acme widget corp")),
        s"q=$q must block exactly the typo pair: $p")
    }
    // out-of-range explicit widths refuse
    assertThrows[IllegalArgumentException](tiny.fuzzyPairs("n", gramWidth = 2))
    assertThrows[IllegalArgumentException](tiny.fuzzyPairs("n", gramWidth = 6))
  }

  test("pplTiers verb matches tx32 and terciles a planted score spread") {
    val viaApi = Tables(spark, sfDir, "documents")
      .pplTiers("doc_id", "text", "source")
      .orderBy("source", "tier")
    val viaOp = SparkEntry.queries("tx32_ppl_tiers")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: three score classes — 'aa..' docs score highest (their
    // one bigram dominates the corpus), 'abab' middle, repeated-rare
    // lowest. Class sizes 3/3/4 are chosen FOR the ceil cum-count
    // rule: c333 needs cum·1000 ≥ 333·10 → the 4-doc tail class
    // (4000 ≥ 3330); c667 needs cum ≥ 6.67 → tail+middle (7000 ≥
    // 6670); equal thirds would strand head empty (2000 < 2001·k
    // — the 667 boundary always overshoots exact thirds).
    import spark.implicits._
    val docs = (
      (1 to 3).map(i => (i.toLong, "s1", "aaaaaaaaaaaaaaaaaaaa")) ++
      (4 to 6).map(i => (i.toLong, "s1", "abababababababababab")) ++
      (7 to 10).map(i => (i.toLong, "s2", "qwrtypsdfghjklzxcvbn"))
    ).toDF("doc_id", "source", "text")
    val tiers = docs.pplTiers("doc_id", "text", "source")
      .select("source", "tier", "n_docs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(tiers == Set(("s1", "head", 3L), ("s1", "middle", 3L), ("s2", "tail", 4L)),
      s"got $tiers")
  }

  test("epochBudget verb matches sp13 and caps a planted premium source") {
    val docsDf = Tables(spark, sfDir, "documents")
    val tot = docsDf.agg(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    val viaApi = docsDf
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .epochBudget("source", "n_tok", budgetTokens = 2 * tot,
        weight = when(col("source") === "src0", lit(5L)).otherwise(lit(1L)))
      .orderBy("source")
    val viaOp = SparkEntry.queries("sp13_epoch_budget")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: sources of 100 and 1000 tokens, budget 2200, cap 4.
    // sumw=2 ⇒ target 1100 each; small caps at 4.000 epochs (alloc
    // 400), big gets 1.100 (alloc 1100); shortfall = 700*1000 DIV
    // 2200 = 318 milli.
    import spark.implicits._
    val tiny = Seq(("small", 100L), ("big", 1000L)).toDF("src", "n_tok")
    val got = tiny.epochBudget("src", "n_tok", budgetTokens = 2200L)
      .orderBy("src")
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6), r.getLong(7))).toSeq
    assert(got == Seq(
      ("big", 1100L, 1100L, 1100L, false, 318L),
      ("small", 1100L, 4000L, 400L, true, 318L)), s"got $got")
  }

  test("bigramCounts native kernel equals the composed transform+explode census") {
    import graft.functions.TextFunctions.bigramCounts
    // corpus-wide bigram totals: native census vs the raw per-position
    // explode (the pre-r15 tx08 form) must agree bigram-for-bigram
    val docsDf = Tables(spark, sfDir, "documents")
      .withColumn("norm", lower(col("text")))
    val native = docsDf
      .select(explode(bigramCounts(col("norm"))).as("e"))
      .groupBy(col("e.bg").as("bg")).agg(sum(col("e.c")).as("cnt"))
      .orderBy("bg").collect().toSeq
    val composed = docsDf
      .select(explode(when(length(col("norm")) >= 2,
        transform(sequence(lit(1), length(col("norm")) - 1),
          i => col("norm").substr(i, lit(2))))
        .otherwise(typedLit(Seq.empty[String]))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      .orderBy("bg").collect().toSeq
    assert(native == composed)
    // per-doc conservation: Σc = len − 1 for every doc
    val bad = docsDf
      .select(col("doc_id"), length(col("norm")).as("len"),
        aggregate(bigramCounts(col("norm")), lit(0L), (a, e) => a + e.getField("c")).as("sc"))
      .filter(col("sc") =!= col("len") - 1)
    assert(bad.isEmpty, s"Σc must equal len−1: ${bad.take(3).toSeq}")
    // code-point semantics: BMP greek and an astral-plane symbol
    import spark.implicits._
    val uni = Seq("ααβ", "𝄞a𝄞").toDF("norm")
      .select(col("norm"), bigramCounts(col("norm")).as("b")).collect()
    assert(uni(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getString(0), r.getLong(1)))
      == Seq(("αα", 1L), ("αβ", 1L)))
    assert(uni(1).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getString(0), r.getLong(1)))
      == Seq(("𝄞a", 1L), ("a𝄞", 1L)))
  }

  test("fused minhash-over-words kernel equals the composed shingles+minhash form") {
    import graft.functions.TextFunctions.{tokens, shingles}
    def sig(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.bridge.column(
        graft.plans.MinHashSigExpr(org.apache.spark.sql.graft.bridge.expression(c)))
    def sigW(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.bridge.column(
        graft.plans.MinHashWordsExpr(org.apache.spark.sql.graft.bridge.expression(c), 3))
    // real corpus: every doc's fused signature must equal the
    // composed (shingle-array materializing) one, value for value
    val docsDf = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("words"))
    val bad = docsDf
      .select(col("doc_id"), sig(shingles(col("words"), 3)).as("a"), sigW(col("words")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(bad.isEmpty, s"fused != composed: ${bad.take(3).toSeq}")
    // degenerate shapes: sub-k docs (whole-doc shingle), single word,
    // empty string (split('') = [""])
    import spark.implicits._
    val edge = Seq("one two", "solo", "", "a b c d").toDF("text")
      .select(tokens(col("text")).as("words"))
      .select(sig(shingles(col("words"), 3)).as("a"), sigW(col("words")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(edge.isEmpty, "fused kernel must match on degenerate docs")
  }

  test("wordCount byte-scan kernel equals size(split(text, ' ')) everywhere") {
    import graft.functions.TextFunctions.wordCount
    // real corpus: the kernel must equal the array form value for value
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("a"), wordCount(col("text")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(bad.isEmpty, s"wordCount != size(split): ${bad.take(3).toSeq}")
    // degenerate shapes: empty string ([""] = 1), leading/trailing/
    // adjacent separators (split keeps empty tokens), single word, a
    // null (both forms null), and multi-byte UTF-8 around the spaces
    // (0x20 never appears inside a multi-byte sequence)
    import spark.implicits._
    val edge = Seq("", " ", "a ", " a", "a  b", "solo", null,
        "αα β𝄞 γ", "tab\tand\nnewline stay glued")
      .toDF("text")
      .select(size(split(col("text"), " ")).as("a"), wordCount(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(edge.isEmpty, "wordCount must match on degenerate strings")
  }

  test("gramHashes kernel equals xxhash64 over the composed grams5 strings") {
    import graft.functions.TextFunctions.gramHashes
    def composed(ws: org.apache.spark.sql.Column) =
      transform(graft.operators.Curation.grams5(ws), g => xxhash64(g))
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("_ws"))
      .select(col("doc_id"), composed(col("_ws")).as("a"),
        gramHashes(col("_ws"), 5).as("b"))
      .filter(col("a") =!= col("b"))
    assert(bad.isEmpty, s"gramHashes != composed: ${bad.take(3).toSeq}")
    // degenerate shapes: sub-5-word docs (empty array, the grams5
    // guard), exactly 5 words, empty string, adjacent separators
    // (empty tokens participate in windows exactly as split emits them)
    import spark.implicits._
    val edge = Seq("one two three four", "a b c d e", "", "a  b c d e f")
      .toDF("text")
      .select(split(lower(col("text")), " ").as("_ws"))
      .select(composed(col("_ws")).as("a"), gramHashes(col("_ws"), 5).as("b"))
      .filter(col("a") =!= col("b"))
    assert(edge.isEmpty, "gramHashes must match on degenerate docs")
  }

  test("gramMd5 text-slice kernel equals unhex(md5) over the composed shingles") {
    import graft.functions.TextFunctions.{gramMd5, shingles, tokens}
    def composed(text: org.apache.spark.sql.Column) =
      transform(shingles(tokens(text), 3), s => unhex(md5(s)))
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), composed(col("text")).as("a"), gramMd5(col("text"), 3).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(bad.isEmpty, s"gramMd5 != composed: ${bad.take(3).toSeq}")
    // degenerate shapes: sub-k docs (whole-document gram), exactly k,
    // empty string, adjacent/leading/trailing separators (empty tokens
    // join exactly as concat_ws emits them — the gram IS the text
    // slice), null (composed yields one md5("") gram via concat_ws of
    // a null array — the kernel maps null to the empty-text result),
    // and multi-byte UTF-8 around the spaces
    import spark.implicits._
    val edge = Seq("one two", "a b c", "", " ", "a  b c ", " a b c", null,
        "αα β𝄞 γ δ", "solo")
      .toDF("text")
      .select(composed(col("text")).as("a"), gramMd5(col("text"), 3).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(edge.isEmpty, "gramMd5 must match on degenerate docs")
  }

  test("gramXxh text-slice kernel equals xxhash64 over the composed shingles") {
    import graft.functions.TextFunctions.{gramXxh, shingles, tokens}
    def composed(text: org.apache.spark.sql.Column) =
      transform(shingles(tokens(text), 3), s => xxhash64(s))
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), composed(col("text")).as("a"), gramXxh(col("text"), 3).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(bad.isEmpty, s"gramXxh != composed: ${bad.take(3).toSeq}")
    import spark.implicits._
    val edge = Seq("one two", "a b c", "", " ", "a  b c ", " a b c", null,
        "αα β𝄞 γ δ", "solo")
      .toDF("text")
      .select(composed(col("text")).as("a"), gramXxh(col("text"), 3).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(edge.isEmpty, "gramXxh must match on degenerate docs")
  }

  test("tiled line-hash kernel equals xxhash64 over the composed 10-word lines") {
    def kernel(text: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.bridge.column(
        graft.plans.TiledLineHashesExpr(
          org.apache.spark.sql.graft.bridge.expression(text), 10))
    def composed(text: org.apache.spark.sql.Column) = {
      val ws = split(text, " ")
      coalesce(transform(
        sequence(lit(0), floor((size(ws) - 1) / 10).cast("int")),
        c => xxhash64(array_join(slice(ws, c * lit(10) + 1, lit(10)), " "))),
        typedLit(Seq.empty[Long]))
    }
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), composed(col("text")).as("a"), kernel(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(bad.isEmpty, s"lineHashes != composed: ${bad.take(3).toSeq}")
    // degenerate shapes: null (composed sequence(0, null) -> null ->
    // coalesce empty; kernel empty), empty string (one empty line),
    // exactly 10 words, 11 words (short tail tile), adjacent
    // separators (empty tokens tile exactly as split emits them)
    import spark.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val edge = Seq(null, "", " ", "solo", ten, ten + " tail", "a  b " + ten)
      .toDF("text")
      .select(composed(col("text")).as("a"), kernel(col("text")).as("b"))
      .filter(not(col("a") <=> col("b")))
    assert(edge.isEmpty, "lineHashes must match on degenerate docs")
  }

  test("termCounts kernel equals the composed split+filter term frequencies") {
    import graft.functions.TextFunctions.termCounts
    val terms = Seq("vector", "join", "scan")
    def composed(text: org.apache.spark.sql.Column) =
      transform(typedLit(terms), t =>
        size(filter(split(lower(text), " "), w => w === t)))
    val bad = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), composed(col("text")).as("a"),
        termCounts(lower(col("text")), terms).as("b"))
      .filter(col("a") =!= col("b"))
    assert(bad.isEmpty, s"termCounts != composed: ${bad.take(3).toSeq}")
    // degenerate shapes: empty string, adjacent separators (empty
    // tokens never match), term as prefix/suffix of a longer token
    // (must NOT count), repeated terms, term at both ends
    import spark.implicits._
    val edge = Seq("", " ", "vectorizer scanner joint", "vector vector scan",
        "scan", " join ", "a vector  join b")
      .toDF("text")
      .select(composed(col("text")).as("a"),
        termCounts(lower(col("text")), terms).as("b"))
      .filter(col("a") =!= col("b"))
    assert(edge.isEmpty, "termCounts must match on degenerate strings")
  }

  test("lexiconCounts and tokenProfile kernels equal their composed token-array forms") {
    import graft.functions.TextFunctions.{lexiconCounts, tokenProfile, lexiconHits, tokens}
    val langs = graft.operators.TextOps.langLex.keys.toSeq.sorted
    val lexes = langs.map(graft.operators.TextOps.langLex)
    val en = graft.operators.TextOps.langLex("en")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val withToks = df.withColumn("_tk", tokens(col("text")))
      val badLex = withToks
        .select(
          array(lexes.map(lex => lexiconHits(col("_tk"), lex)): _*).as("a"),
          lexiconCounts(col("text"), lexes).as("b"))
        .filter(col("a") =!= col("b"))
      assert(badLex.isEmpty, s"lexiconCounts != composed: ${badLex.take(3).toSeq}")
      // composed modal: per-token counts via a sorted run-length fold
      // (tx33's old domFold); composed modal WORD via array_sort over
      // (cnt desc equivalently -cnt asc, word asc) of per-token structs
      val sortedToks = array_sort(col("_tk"))
      val acc0 = struct(lit("").as("p"), lit(0L).as("rl"), lit(0L).as("mx"))
      val domFold = aggregate(sortedToks, acc0,
        (a, x) => when(x === a.getField("p"),
            struct(a.getField("p").as("p"), (a.getField("rl") + 1L).as("rl"),
              greatest(a.getField("mx"), a.getField("rl") + 1L).as("mx")))
          .otherwise(struct(x.as("p"), lit(1L).as("rl"),
            greatest(a.getField("mx"), lit(1L)).as("mx"))),
        a => a.getField("mx"))
      val bgs = when(size(col("_tk")) >= 2,
        transform(sequence(lit(1), size(col("_tk")) - 1),
          i => array_join(slice(col("_tk"), i, lit(2)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
      // modal word: among per-distinct-token counts, max count then
      // smallest word — expressed as the first element of array_sort
      // over struct(-cnt, word)
      val modalWord = {
        val counted = transform(array_distinct(col("_tk")), t =>
          struct((-size(filter(col("_tk"), x => x === t))).as("negc"), t.as("w")))
        element_at(array_sort(counted), 1).getField("w")
      }
      val badTp = withToks
        .select(
          struct(size(col("_tk")).as("n_words"),
            lexiconHits(col("_tk"), en).as("n_stop"),
            size(array_distinct(col("_tk"))).as("n_uniq"),
            domFold.cast("int").as("top_cnt"),
            modalWord.as("top_word"),
            when(size(col("_tk")) >= 2, size(col("_tk")) - 1).otherwise(0).as("n_bigrams"),
            size(array_distinct(bgs)).as("n_uniq_bigrams"),
            size(filter(array_distinct(col("_tk")), t =>
              size(filter(col("_tk"), x => x === t)) === 1)).as("n_hapax"),
            aggregate(array_distinct(col("_tk")), lit(0L), (acc, t) =>
              acc + size(filter(col("_tk"), x => x === t)).cast("long") *
                size(filter(col("_tk"), x => x === t)).cast("long")).as("sum_sq")).as("a"),
          tokenProfile(col("text"), en).as("b"))
        .filter(col("a") =!= col("b"))
      assert(badTp.isEmpty, s"tokenProfile != composed: ${badTp.take(3).toSeq}")
    }
    check(Tables(spark, sfDir, "documents"))
    // degenerate shapes: empty string (one empty token, distinct keeps
    // it), adjacent separators, stopword as prefix of a longer token,
    // repeated words, a doc of ONLY stopwords, modal ties (both words
    // twice — binary-smallest must win), >32 distinct words (the hash
    // table growth path)
    import spark.implicits._
    check(Seq("", " ", "theory of the and", "the the the a a of",
        "the a of and to", "b a b a", "z y z y x",
        (1 to 100).map(i => s"w$i").mkString(" "))
      .toDF("text"))
  }

  test("fuzzyPairs refuses a vocabulary-starved registry loudly; maxGramDf is the opt-out") {
    import spark.implicits._
    // all 4^5 = 1024 recombinations of a FOUR-word vocabulary: the
    // gram domain is ~dozens of keys while every name shares words
    // with most others — the measured dd17 saturation class (58k
    // 16-word-vocab names read 3.7-7.9e9 candidates at EVERY width).
    // Here the exact bound is ~1.6e6 candidates for 1024 names
    // (> max(10^6, 64·n)), so the guard must throw, at auto AND at
    // every explicit width.
    val vocab = Vector("aaa", "bbb", "ccc", "ddd")
    val reg = Seq.tabulate(1024) { i =>
      (0 until 5).map(p => vocab((i >> (2 * p)) & 3)).mkString(" ")
    }.toDF("n")
    val e = intercept[IllegalArgumentException](reg.fuzzyPairs("n"))
    assert(e.getMessage.contains("saturates"), e.getMessage)
    assertThrows[IllegalArgumentException](reg.fuzzyPairs("n", gramWidth = 5))
    // the explicit opt-out bounds the join by construction and runs
    val capped = reg.fuzzyPairs("n", maxGramDf = 32L)
    assert(capped.columns.contains("lev"))
    capped.count() // executes without the guard firing
    // a natural registry of the same size sails through: 1024 distinct
    // random-hex names share almost no grams (candidates ≈ 0)
    val natural = Seq.tabulate(1024)(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map("%02x".format(_)).mkString)
      .toDF("n")
    assert(natural.fuzzyPairs("n").columns.contains("lev"))
  }

  test("sourceOverlap auto-routes exact below 10^6 docs and sketch above; forms agree") {
    import graft.operators.Dedup
    // routing thresholds pinned (the simhashWidthFor discipline)
    assert(Dedup.sourceOverlapModeFor(999999L) == "exact")
    assert(Dedup.sourceOverlapModeFor(1000000L) == "sketch")
    val docsDf = Tables(spark, sfDir, "documents")
    // auto == exact on the (sub-10^6) test corpus — the existing dd10
    // equality test pins this too; here the override forms are checked
    val exact = docsDf.sourceOverlap("source", "text", mode = "exact")
      .orderBy("source_a", "source_b").collect()
    val sketch = docsDf.sourceOverlap("source", "text", mode = "sketch")
      .orderBy("source_a", "source_b")
    // same schema (the routing contract: callers never re-shape)
    assert(sketch.columns.toSeq == Seq("source_a", "source_b", "n_a", "n_b",
      "n_shared", "jaccard_milli", "cont_a_milli"))
    // estimates track exact counts within the lgK=14 tolerance band
    // (theta sketches are EXACT below 2^14 retained hashes, so small
    // sources match to the row; the 5% band also covers larger ones)
    val sk = sketch.collect()
    assert(sk.length == exact.length, "every source pair appears in both forms")
    exact.zip(sk).foreach { case (e, s) =>
      assert(e.getString(0) == s.getString(0) && e.getString(1) == s.getString(1))
      Seq(2, 3, 4).foreach { i =>
        val (ev, sv) = (e.getLong(i), s.getLong(i))
        assert(math.abs(ev - sv) <= math.max(32L, (ev * 0.05).toLong),
          s"pair ${e.getString(0)}/${e.getString(1)} col $i: exact $ev vs sketch $sv")
      }
    }
    assertThrows[IllegalArgumentException](
      docsDf.sourceOverlap("source", "text", mode = "bogus"))
  }

  test("autocorrOf widens to DECIMAL(38,0) past the long bound and agrees with the long path") {
    import spark.implicits._
    // r_k is scale-invariant (x → c·x scales num and den by c²
    // exactly), so the SAME series scaled past the long-path bound
    // must return IDENTICAL milli values — the wide path's answer is
    // pinned by the long path's, no tolerance. Base: alternating 1/5
    // over 10 days → (1, 9, −900), (2, 8, 800) (the ts36 fixture).
    val base = Seq.tabulate(10)(d => (d.toLong, if (d % 2 == 0) 1L else 5L))
    def run(c: Long) = graft.operators.TimeSeries.autocorrOf(
        base.map { case (d, x) => (d, x * c) }.toDF("dn", "x"), maxLag = 2)
      .orderBy("lag_k")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq((1, 9L, -900L), (2, 8L, 800L))
    assert(run(1L) == expected, "long path baseline")
    // c = 10^8: maxx = 5e8, 4000·n³·maxx² ≈ 10^24 >> 2^63 — the width
    // probe must pick the decimal path (the long path would ANSI-throw
    // inside sum(x·x): (5e8)² · 10 alone exceeds 2^63)
    assert(run(100000000L) == expected, "wide path must agree (scale-invariance)")
    // independent BigInt recomputation of the wide-path case
    val xs = base.map(_._2 * BigInt(100000000L))
    val n = BigInt(xs.length); val s = xs.sum
    val lag1 = xs.init.zip(xs.tail)
    val num1 = n * n * lag1.map(p => p._1 * p._2).sum -
      n * s * lag1.map(p => p._1 + p._2).sum + BigInt(lag1.length) * s * s
    val den = n * n * xs.map(x => x * x).sum - n * s * s
    assert((BigInt(1000) * num1 / den).toLong == -900L,
      "BigInt recomputation confirms the pinned value")
  }

  test("cycleScan verb matches ts42 and finds a planted weekly cadence") {
    val viaApi = Tables.events(spark, sfDir)
      .cycleScan("event_type", "ts")
      .orderBy("event_type", "period")
    val viaOp = SparkEntry.queries("ts42_cycle_scan")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: a pure weekly cadence — one busy day (10 events) then
    // six quiet days, over 4 weeks; period 7 must win the scan
    import spark.implicits._
    val rows = for (week <- 0 to 3; i <- 0 until 10)
      yield ("w", (week * 7) * 86400L, i)
    val got = rows.toDF("k", "es", "i")
      .cycleScan("k", "es")
      .collect().map(r => (r.getAs[Long]("period"), r.getAs[Boolean]("is_best")))
    assert(got.filter(_._2).map(_._1).toSeq == Seq(7L), s"got ${got.toSeq}")
  }

  test("theilSen verb matches ts39 and recovers planted slopes exactly") {
    val viaApi = Tables.events(spark, sfDir)
      .theilSen("event_type", "ts")
      .orderBy("event_type")
    val viaOp = SparkEntry.queries("ts39_theil_sen")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: 'up' grows one event/day (every pairwise slope exactly
    // 1000 milli); 'flat' holds at two events/day (every slope 0)
    import spark.implicits._
    val rows =
      (for (day <- 0 to 2; i <- 0 to day) yield ("up", day * 86400L, i)) ++
        (for (day <- 0 to 2; i <- 0 to 1) yield ("flat", day * 86400L, i))
    val got = rows.toDF("k", "es", "i")
      .theilSen("k", "es")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("slope_milli"), r.getAs[String]("trend"))).toMap
    assert(got("up") == ((3L, 3L, 1000L, "up")), s"got ${got("up")}")
    assert(got("flat") == ((3L, 3L, 0L, "flat")), s"got ${got("flat")}")
  }

  test("codeDetect / stopwordProfile / semdedupCurve verbs match their operators") {
    val viaCode = Tables(spark, sfDir, "documents")
      .codeDetect("doc_id", "text")
    assert(viaCode.collect().toSeq ==
      SparkEntry.queries("tx39_code_detect")(spark, sfDir).collect().toSeq)
    val viaProf = Tables(spark, sfDir, "documents")
      .stopwordProfile("source", "text")
    assert(viaProf.collect().toSeq ==
      SparkEntry.queries("tx37_stopword_profile")(spark, sfDir).collect().toSeq)
    val viaCurve = Tables(spark, sfDir, "embeddings")
      .semdedupCurve("vec_id", "embedding", "label")
    assert(viaCurve.collect().toSeq ==
      SparkEntry.queries("ss37_semdedup_curve")(spark, sfDir).collect().toSeq)
  }

  test("gopherGate verb matches tx33 and attributes a planted battery") {
    val viaApi = Tables(spark, sfDir, "documents")
      .gopherGate("doc_id", "text")
    val viaOp = SparkEntry.queries("tx33_gopher_gate")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: d1 too short (also fails wordlen/stopword/dominance
    // marginally), d2 repeats 'the' 40x (passes word count, dies at
    // mean word length; dominance + diversity marginal), d3 engineered
    // to survive every rule (40 distinct words, mean length 4500
    // milli, two stopwords)
    import spark.implicits._
    val d3 = ("the a" +
      (1 to 24).map(i => f" v$i%04d").mkString +   // 24 words of length 5
      (1 to 14).map(i => f" w$i%03d").mkString)    // 14 words of length 4
    val docs = Seq((1L, "a b"), (2L, Seq.fill(40)("the").mkString(" ")), (3L, d3))
      .toDF("doc_id", "text")
    val got = docs.gopherGate("doc_id", "text")
      .collect().map(r => (r.getAs[Int]("rule_ord"), r.getAs[String]("rule"),
        r.getAs[Long]("n_checked"), r.getAs[Long]("n_fail"),
        r.getAs[Long]("n_fail_marginal"))).toSeq
    assert(got == Seq(
      (1, "word_count", 3L, 1L, 1L),
      (2, "mean_word_len", 2L, 1L, 2L),
      (3, "stopwords", 1L, 0L, 1L),
      (4, "dominance", 1L, 0L, 2L),
      (5, "diversity", 1L, 0L, 1L),
      (6, "survivors", 1L, 0L, 0L)), s"got $got")
  }

  test("gopherGate: a null-text doc fails rule 1, never reaching the survivors row") {
    // the funnel must stay conservative under null text: the doc is
    // counted in n_checked, killed at word_count, and contributes to
    // NO marginal (its other flags are unevaluable, not failures)
    import spark.implicits._
    val d3 = ("the a" +
      (1 to 24).map(i => f" v$i%04d").mkString +
      (1 to 14).map(i => f" w$i%03d").mkString)
    val docs = Seq((1L, null: String), (3L, d3)).toDF("doc_id", "text")
    val got = docs.gopherGate("doc_id", "text")
      .collect().map(r => (r.getAs[Int]("rule_ord"),
        r.getAs[Long]("n_checked"), r.getAs[Long]("n_fail"),
        r.getAs[Long]("n_fail_marginal"))).toSeq
    assert(got == Seq(
      (1, 2L, 1L, 1L), (2, 1L, 0L, 0L), (3, 1L, 0L, 0L),
      (4, 1L, 0L, 0L), (5, 1L, 0L, 0L), (6, 1L, 0L, 0L)), s"got $got")
  }

  test("embedDrift verb matches ss35 and measures a planted displacement") {
    val viaApi = Tables(spark, sfDir, "embeddings")
      .embedDrift("vec_id", "embedding", col("vec_id") % 2 === 1)
      .orderBy("cell")
    val viaOp = SparkEntry.queries("ss35_embed_drift")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: cell 15 holds two reference vectors at q=100 per dim
    // and one current vector whose dim 1 moved to q=200 (L1
    // displacement exactly 100 centi); cell 0 has no current half
    // (NULL displacement, share shift 333)
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 1f, 1f, 1f), false),
      (2L, Seq(1f, 1f, 1f, 1f), false),
      (1L, Seq(2f, 1f, 1f, 1f), true),
      (4L, Seq(-1f, -1f, -1f, -1f), false)
    ).toDF("id", "emb", "tag")
    val got = vecs.embedDrift("id", "emb", col("tag"))
      .collect().map(r => r.getAs[Int]("cell") -> r).toMap
    val c15 = got(15)
    assert(c15.getAs[Long]("n_old") == 2L && c15.getAs[Long]("n_new") == 1L)
    assert(c15.getAs[Long]("share_old_milli") == 666L)
    assert(c15.getAs[Long]("share_new_milli") == 1000L)
    assert(c15.getAs[Long]("shift_milli") == 334L)
    assert(c15.getAs[Long]("disp_centi") == 100L)
    assert(c15.getAs[Boolean]("drifted"))
    val c0 = got(0)
    assert(c0.getAs[Long]("n_old") == 1L && c0.getAs[Long]("n_new") == 0L)
    assert(c0.isNullAt(c0.fieldIndex("disp_centi")))
    assert(c0.getAs[Long]("shift_milli") == 333L && c0.getAs[Boolean]("drifted"))
  }

  test("mixtureCaps verb matches sp15 and clamps a planted skew conservatively") {
    import spark.implicits._
    val viaApi = Tables(spark, sfDir, "documents")
      .withColumn("tok_cnt", size(split(col("text"), " ")).cast("long"))
      .mixtureCaps("source", "tok_cnt")
      .orderBy("source")
    val viaOp = SparkEntry.queries("sp15_mixture_caps")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted skew: one giant source (raw 727 milli), three tiny —
    // the cap binds, the 430-milli residual spreads over the 270-milli
    // free mass proportionally (each tiny source: 90 + 143)
    val mix = Seq(("A", 6400L), ("B", 100L), ("C", 100L), ("D", 100L))
      .toDF("source", "toks")
      .mixtureCaps("source", "toks", capMilli = 300L, floorMilli = 25L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("raw_milli"), r.getAs[Long]("final_milli"),
          r.getAs[Boolean]("clamped")))).toMap
    assert(mix("A") == ((727L, 300L, true)), s"got ${mix("A")}")
    Seq("B", "C", "D").foreach(s =>
      assert(mix(s) == ((90L, 233L, false)), s"$s: ${mix(s)}"))
    val tot = mix.values.map(_._2).sum
    assert(math.abs(tot - 1000L) <= 4, s"conservation: $tot")
    // degenerate all-clamped: no free mass to absorb the residual —
    // the clamp bounds themselves are the contract
    val all = Seq(("A", 6400L), ("B", 100L)).toDF("source", "toks")
      .mixtureCaps("source", "toks", capMilli = 300L, floorMilli = 200L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("final_milli")).toMap
    assert(all("A") == 300L && all("B") == 200L, s"got $all")
  }

  test("mm09 saturation contract: radius tightens as appearance entropy collapses, refuses at floor") {
    import graft.operators.Multimodal
    // the dd19/fuzzyGramWidthFor contract applied to the aHash class
    // space — thresholds pinned so the rule cannot drift silently
    // (measured ratios: sf0.01 942 permil, sf0.1 833, 64x blowup 261)
    assert(Multimodal.imageRadiusFor(300L, 1000L) == 3)
    assert(Multimodal.imageRadiusFor(299L, 1000L) == 1)
    assert(Multimodal.imageRadiusFor(20L, 1000L) == 1)
    assertThrows[IllegalArgumentException](
      Multimodal.imageRadiusFor(19L, 1000L))
    // empty corpus reads as healthy (no docs to densify)
    assert(Multimodal.imageRadiusFor(0L, 0L) == 3)
    // the sf0.001 suite corpus is healthy: registered mm09 runs at
    // the full radius and every emitted pair respects it
    val rows = SparkEntry.queries("mm09_image_neardup")(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("mrlCurve verb: auto routes small corpora to the exact audit; steer thresholds pinned") {
    import graft.operators.Similarity
    // the sourceOverlapModeFor contract applied to the MRL recall
    // audit: <= 100k vectors -> exact Q x N truth; beyond -> a
    // deterministic ~25k-vector registry sample, flat at every scale
    assert(Similarity.mrlSampleOneInFor(100000L) == 1)
    assert(Similarity.mrlSampleOneInFor(100001L) == 4)
    assert(Similarity.mrlSampleOneInFor(200000L) == 8)
    assert(Similarity.mrlSampleOneInFor(1600000L) == 64)
    assert(Similarity.mrlSampleOneInFor(1000000000L) == 40000)
    val e = Tables(spark, sfDir, "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    // the sf0.01 corpus is under the threshold, so auto == exact ==
    // the registered ss36 rows
    val auto = e.mrlCurve("vec_id", "embedding", qs, "qid", "qemb")
      .orderBy("q_id")
    val viaOp = SparkEntry.queries("ss36_mrl_curve")(spark, sfDir)
    assert(auto.collect().toSeq == viaOp.collect().toSeq)
  }

  test("mrlCurve sampled-vs-exact agreement is pinned at sf0.01 (drift tripwire)") {
    // The 1-in-4 registry-sampled audit measures the 40-shortlist's
    // recall at effective corpus N/4 — an UPPER estimate of the exact
    // full-corpus number (fewer competitors for the same 40 slots);
    // the bias direction is structural. Pinning BOTH measured curves
    // exactly means drift in either form (kernel, sampling hash,
    // shortlist width) trips this spec. Pinned at sf0.01 (not the
    // suite's sf0.001) — the scale the driver's oracle runs at.
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def meanCurve(sampleOneIn: Int): (Long, Long, Long, Long) = {
      val r = e.mrlCurve("vec_id", "embedding", qs, "qid", "qemb", sampleOneIn)
        .agg(count(lit(1)), avg(col("recall8_milli")),
          avg(col("recall16_milli")), avg(col("recall32_milli"))).head
      (r.getLong(0), r.getDouble(1).round, r.getDouble(2).round,
        r.getDouble(3).round)
    }
    val exact = meanCurve(1)
    val sampled = meanCurve(4)
    assert(exact == ((10L, 270L, 360L, 680L)), s"exact drifted: $exact")
    assert(sampled == ((10L, 520L, 630L, 820L)), s"sampled drifted: $sampled")
    // the structural relationships the estimator relies on: monotone
    // recall in prefix width on both forms, and the sampled estimate
    // dominating the exact per width
    assert(exact._2 <= exact._3 && exact._3 <= exact._4)
    assert(sampled._2 <= sampled._3 && sampled._3 <= sampled._4)
    assert(sampled._2 >= exact._2 && sampled._3 >= exact._3 &&
      sampled._4 >= exact._4)
  }

  test("embedDrift: a globally empty half reads as zero shares, not NULL flags") {
    // an isNew predicate that matches nothing must not NULL-divide:
    // shares of the empty half read 0 and drifted stays boolean
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 1f, 1f, 1f), false),
      (2L, Seq(1f, 1f, 1f, 1f), false)
    ).toDF("id", "emb", "tag")
    val got = vecs.embedDrift("id", "emb", col("tag")).collect()
    assert(got.length == 1)
    val c15 = got(0)
    assert(c15.getAs[Long]("share_old_milli") == 1000L)
    assert(!c15.isNullAt(c15.fieldIndex("share_new_milli")))
    assert(c15.getAs[Long]("share_new_milli") == 0L)
    assert(!c15.isNullAt(c15.fieldIndex("drifted")))
    assert(c15.getAs[Boolean]("drifted"))
  }

  test("cdcDedup verb matches dd22 and a planted shared chunk survives an insertion") {
    val viaApi = Tables(spark, sfDir, "documents")
      .cdcDedup("doc_id", "text")
      .orderBy("doc_id")
    val viaOp = SparkEntry.queries("dd22_cdc_chunks")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: d2 = d1 with a PREFIX insertion. Fixed-size blocks
    // would shift every boundary; CDC boundaries re-synchronize after
    // the edit, so the two docs share at least one chunk digest —
    // the whole point of content-defined chunking
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest before nightfall tonight"
    val docs = Seq((1L, base), (2L, "INSERTED PREFIX " + base)).toDF("id", "t")
    val got = docs.cdcDedup("id", "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 > 1 && got(2L)._1 > 1, s"multi-chunk docs expected: $got")
    assert(got(1L)._2 > 0 && got(2L)._2 > 0,
      s"the shifted twin must still share chunks with the original: $got")
  }

  test("fused CDC chunk kernel == composed cuts+transform md5 over corpus + degenerate docs") {
    // CdcChunksExpr must be a BIJECTION of the r13 composed form:
    // hex(kernel digest) == md5(substr(t, prev+1, e-prev)) and clen ==
    // e - prev, chunk for chunk, over the real corpus AND the window
    // edge cases (shorter than the 8-cp window, exactly the window,
    // cut-at-the-last-position, multi-byte UTF-8).
    import spark.implicits._
    val corpus = Tables(spark, sfDir, "documents")
      .select(col("doc_id").cast("string").as("id"), col("text").as("t"))
    val edge = Seq(
      ("e1", "short"),                       // < window: one whole-doc chunk
      ("e2", "exactly8"),                    // == window
      ("e3", "a b c d e f g h i j k l m n"), // plain multi-chunk ASCII
      ("e4", "héllo wörld ünïcode ßtrings echo foxtrot golf hotel india"),
      ("e5", "é世界😀 mixed width code points here")
    ).toDF("id", "t")
    Seq(corpus, edge).foreach { df =>
      val fused = df
        .select(col("id"), explode_outer(
          graft.functions.TextFunctions.cdcChunks(col("t"))).as("ch"))
        .filter(col("ch").isNotNull)
        .select(col("id"), lower(hex(col("ch.digest"))).as("digest"),
          col("ch.clen").as("clen"))
      val composed = df
        .filter(length(col("t")) > 0)
        .withColumn("len", length(col("t")).cast("int"))
        .withColumn("cuts", graft.functions.TextFunctions.cdcCuts(col("t")))
        .withColumn("ends",
          when(size(col("cuts")) > 0 && element_at(col("cuts"), -1) === col("len"),
            col("cuts"))
            .otherwise(concat(col("cuts"), array(col("len")))))
        .withColumn("ch", explode(transform(col("ends"), (e, j) =>
          struct(
            md5(col("t").substr(
              when(j === 0, lit(0)).otherwise(element_at(col("ends"), j)) + 1,
              e - when(j === 0, lit(0)).otherwise(element_at(col("ends"), j))))
              .as("digest"),
            (e - when(j === 0, lit(0)).otherwise(element_at(col("ends"), j)))
              .cast("long").as("clen")))))
        .select(col("id"), col("ch.digest").as("digest"), col("ch.clen").as("clen"))
      val a = fused.orderBy("id", "digest", "clen").collect().toSeq
      val b = composed.orderBy("id", "digest", "clen").collect().toSeq
      assert(a == b, s"fused CDC chunks diverge from the composed form")
    }
  }

  test("sloBands verb matches ts40 and recovers planted per-day percentiles") {
    val viaApi = Tables.events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .sloBands("event_type", "ts", "cents")
      .orderBy("event_type", "dn", "q_milli")
    val viaOp = SparkEntry.queries("ts40_slo_bands")(spark, sfDir)
    assert(viaApi.collect().toSeq == viaOp.collect().toSeq)
    // planted: one key, one day, values 1..10 cents — by the ceil
    // cum-count rule p50 = 5, p90 = 9, p99 = 10
    import spark.implicits._
    val rows = (1 to 10).map(i => ("k", 86400L, i.toLong)).toDF("k", "es", "c")
    val got = rows.sloBands("k", "es", "c")
      .collect().map(r => r.getAs[Int]("q_milli") -> r.getAs[Long]("cents")).toMap
    assert(got == Map(500 -> 5L, 900 -> 9L, 990 -> 10L), s"got $got")
  }

  test("pagerank gives sink-only nodes rank rows that accumulate inflow") {
    import spark.implicits._
    // 1→2, 2→3: node 3 has NO out-edges (absent from the old
    // sources-only node set — its inflow was computed then discarded).
    // Hand-unrolled: round 1: r(2) = 150000 + 850·10^6/1000 = 10^6,
    // r(3) = 10^6 (inflow from 2's initial rank), r(1) = 150000.
    // Round 2: r(2) = 150000 + 850·150000/1000 = 277500,
    // r(3) = 150000 + 850·10^6/1000 = 10^6, r(1) = 150000.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = edges.pagerank("a", "b", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 150000L, 2L -> 277500L, 3L -> 1000000L), s"got $got")
  }
}
