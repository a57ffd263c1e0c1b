package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k (correctness baseline), random-hyperplane LSH ANN (the scale
  * path — buckets bound the comparison set), and nearest-centroid
  * assignment (the IVF building block).
  *
  * Scale notes: the query row and the centroid table are broadcast;
  * candidate generation never shuffles the big side more than once.
  * Top-k uses orderBy+limit => TakeOrderedAndProject, no global sort.
  */
object Similarity {
  private val QueryId = 7
  // ss13 product quantization: 64-dim embeddings split into NumSub
  // subspaces of SubDim dims; one codeword (a label-centroid slice)
  // chosen per subspace.
  private val SubDim = 8
  private val NumSub = 8

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** n deterministic ±1 hyperplanes, dim 64, derived from md5 so both
    * engines can construct literally identical plane constants (the
    * oracle re-derives them with DuckDB's md5). */
  private[operators] def planesN(n: Int): Seq[Seq[Double]] =
    (0 until n).map(h => (0 until 64).map(i => if (md5hex(s"$h:$i").head <= '7') 1.0 else -1.0))

  private[operators] val planes: Seq[Seq[Double]] = planesN(8)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "embeddings"))

  private def bucketCol(e: Column): Column =
    planes.zipWithIndex.map { case (w, h) =>
      when(dotConst(e, w) > 0.0, lit(1 << h)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Centroids via the custom typed Aggregator (VectorSumAgg): one
    // dense buffer per (label x partition) shuffles instead of dim
    // exploded rows per vector — the 100 TB centroid path. Elements are
    // quantized to exact centi-unit longs INSIDE the aggregator, so the
    // sum is order-free (integer adds commute); the centroid is one
    // IEEE long/long division at the end — engine-exact, no round().
    "ss04_centroid_agg" -> ((s, d) => {
      val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
      emb(s, d)
        .groupBy(col("label"))
        .agg(vecsum(col("embedding")).as("vsum"), count(lit(1)).as("n"))
        .select(col("label"), col("n"), posexplode(col("vsum")))
        .select(col("label"), col("n"), (col("pos") + 1).as("pos"),
          col("col").as("sum_c"),
          (col("col").cast("double") / col("n")).as("centroid_c"))
        .orderBy(col("label"), col("pos"))
    }),

    // IVF probe: the query lands in its nearest-centroid cell
    // (nprobe=1) and only that cell's members are scored — at 100 TB
    // the fact side is pre-partitioned by cell, so a probe reads one
    // partition instead of the corpus. Cell assignment is the
    // zero-shuffle argmin fold (see ss03).
    "ss05_ivf_probe" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
      // persist(): `assigned` feeds BOTH the probe side and the q-side
      // filter below — without it the centroid pipeline + full-corpus
      // cell assignment executes twice (same class of defect as the
      // round-1 dd02 signature recompute). MEMORY_AND_DISK spills
      // instead of OOMing on big corpora; at 100 TB the assignment
      // would instead be a materialized cell-partitioned table.
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
          col("embedding"), col("cents"), "cvec", "c_label"))
        .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = assigned.filter(col("vec_id") === QueryId)
        .select(col("embedding").as("q_emb"), col("cell").as("q_cell"))
      assigned.join(broadcast(q), col("cell") === col("q_cell"))
        .select(col("vec_id"), col("cell"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // INCREMENTAL index append — the production arrival shape for an
    // ANN index (dd12's twin on the vector side): the ESTABLISHED
    // corpus (vec_id % 5 != 0) defines the IVF centroids and cell
    // assignments once; an arriving batch (vec_id % 5 == 0) is
    // assigned to the EXISTING cells by the zero-shuffle broadcast
    // argmin and each new vector reports its nearest established
    // cell-mate (the attach/dedup-on-arrival check). The big old side
    // NEVER re-shuffles: the increment is the small side, so it
    // broadcasts against the cell-partitioned index, and only the
    // per-new-vector argmax (keyed by new vec_id — high cardinality)
    // crosses the wire. Daily cost scales with the increment; no
    // centroid recompute, exactly how IVF indexes absorb appends.
    // r11 re-blocking (ss10/ss28's measured fixed-cell knee — this
    // query read 201 s at the 64x blowup because 10 label cells put
    // 64x members in each and the probe join grew 64²): the index
    // now refines each cell into n_old/640 SUB-quantizer regions
    // (see [[incAnnIndex]]/[[incAnnProbe]] — build vs probe split, so
    // the pay-once build and the per-arrival probe read apart). Inert below 640
    // index vectors, so correctness-scale output is unchanged.
    "ss12_incremental_ann" -> ((s, d) => {
      val e = emb(s, d)
      val idx = incAnnIndex(e.filter(col("vec_id") % 5 =!= 0))
      incAnnProbe(idx, e.filter(col("vec_id") % 5 === 0))
        .orderBy(col("vec_id"))
    }),

    // k-NN GRAPH construction — every vector's top-3 cosine neighbors
    // (the all-to-all building block under SemDeDup clustering, graph-
    // based label propagation, and HNSW-style index bootstrap): the
    // blocked form — candidates are CELL-MATES only, never the corpus
    // (the standard blocked/LSH knn-graph construction). The cell
    // count SCALES WITH THE CORPUS: a 1-row count broadcast sets
    // n_cells = n/64, and each vector's cell is an md5-hash of its id
    // mod n_cells — so cell SIZE is a constant (~64) at every corpus
    // size and the within-cell pair count stays corpus-LINEAR (the r10
    // verdict measured the earlier fixed-cell form at 64² pair growth:
    // a fixed coarse quantizer is the definitional knn-graph scale
    // trap; real IVF practice scales cells ~ n/target, this is that
    // rule in-plan — kmeansTrain centroids at k≈√n are the trained
    // replacement via api.knnGraph). Scale shape: zero-shuffle cell
    // derivation at the scan, ONE cell equi-join (cell-partitioned at
    // 100 TB — each cell joins only itself), and the per-vector top-3
    // is a literal-limit rank window Catalyst plans as a partial
    // WindowGroupLimit before the vec_id shuffle (the ts23/ss08
    // pinned shape: ≤3 rows per vector cross the wire, not the
    // candidate set).
    "ss28_knn_graph" -> ((s, d) =>
      knnGraphBlocked(hashCells(emb(s, d), targetCellSize = 64), k = 3)
        .orderBy(col("vec_id"), col("rank"))),

    // OOD / OUTLIER AUDIT over the embedding corpus — the embedding-
    // space data-cleaning screen (flag vectors far from their own
    // cluster's centroid: mislabeled samples, encoder failures,
    // genuinely out-of-distribution arrivals). Each vector assigns to
    // its nearest per-label centroid (the ss05 broadcast-argmin fold),
    // its squared distance quantizes to an integer grid
    // (floor(d²·10⁴) — both engines floor the identical double), and
    // the per-cell p95 comes EXACTLY from the ts35 mergeable-histogram
    // kernel over that quantized domain; flagged = strictly beyond
    // the cell's p95. Scale shape: one corpus scan for the argmin
    // (centroids broadcast), the histogram partial-aggs into the
    // (cell × quantized-distance) DOMAIN (bounded at any corpus
    // size), the p95 frame broadcasts back onto the assignment —
    // zero corpus-keyed shuffles end to end; the assignment is a lazy
    // localCheckpoint because both the histogram and the flag pass
    // read it (blocks release on GC — the knnGraphOf discipline).
    "ss32_ood_audit" -> ((s, d) =>
      oodAuditOf(emb(s, d), qMilli = 950)
        .orderBy(col("cell"), col("qd").desc, col("vec_id"))),

    // EMBEDDING DRIFT MONITOR — the distribution-shift report every
    // embedding pipeline runs between a reference snapshot and the
    // current batch (retrain-the-index / retrain-the-quantizer
    // trigger, ss16's pqDriftMonitor generalized from codebook fit to
    // the raw distribution; the TFX/Evidently drift-detection staple):
    // vectors split deterministically into reference (even vec_id)
    // and current (odd) halves — the interleaved-snapshot split — and
    // land in 16 SIGN-PATTERN CELLS (sign bits of dims 1-4, the ss07
    // hyperplane-bucket form with axis planes). Per cell: both halves'
    // populations, occupancy shares in integer milli, the absolute
    // share SHIFT (population drift), and the L1 displacement of the
    // per-cell mean in centi-units (centroid drift — means as
    // qsum DIV n over floor(x·100 + 0.5) quantized coordinates, the
    // mm03 quantization; truncating division identical in both
    // engines on negative sums). Cells with an empty half report NULL
    // displacement (honest: no mean to compare). Scale shape: ONE
    // corpus scan partial-aggs into the fixed 16-cell domain (8
    // conditional integer sums ride the same agg); totals are a 1-row
    // broadcast over the 16-row frame — zero corpus-keyed shuffles.
    "ss35_embed_drift" -> ((s, d) =>
      embedDriftOf(emb(s, d).withColumn("is_new", col("vec_id") % 2 === 1))
        .orderBy(col("cell"))),

    // IVF NPROBE TUNING CURVE — ss17's IVF-side twin (that one audits
    // LSH table counts, this audits the recall-vs-cost knob every IVF
    // deployment tunes): recall@10 and candidate volume at nprobe ∈
    // {1, 2, 4} against the exact top-10 truth, per query. Each
    // vector's cells sort by distance (array_sort over (dist2, cell)
    // structs — the broadcast-argmin fold's total order), a candidate
    // matches at probe depth p iff its OWN cell ranks ≤ p in the
    // QUERY's probe order; a true top-10 member in the candidate set
    // is always in the candidate top-10 (cosine order is global), so
    // hits = conditional counts over the truth frame — no per-config
    // rerank join. Scale shape: ss17's bounded-audit discipline (the
    // query sample is id-capped, the Q×N audit frame persists once —
    // at 100 TB each config's candidates come from the cell-partitioned
    // index instead; the audit frame is the honest form for measuring
    // recall, which needs the full truth anyway).
    "ss34_nprobe_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val cents = centroidArray(e)
      val withCell = e.crossJoin(broadcast(cents))
        .withColumn("scells", array_sort(cellStructsOf(col("embedding"))))
        .select(col("vec_id"), col("embedding"),
          col("scells").getItem(0).getField("cell").as("cell"),
          transform(slice(col("scells"), 1, 4), c => c.getField("cell")).as("p4"))
      val qs = withCell.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("p4").as("qp4"))
      val all = withCell.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"),
          (col("cell") === col("qp4").getItem(0)).as("m1"),
          array_contains(slice(col("qp4"), 1, 2), col("cell")).as("m2"),
          array_contains(col("qp4"), col("cell")).as("m4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      val truth = all.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      val cands = all.groupBy(col("q_id")).agg(
        sum(when(col("m1"), 1L).otherwise(0L)).as("n_cand1"),
        sum(when(col("m2"), 1L).otherwise(0L)).as("n_cand2"),
        sum(when(col("m4"), 1L).otherwise(0L)).as("n_cand4"))
      truth.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("m1"), 1L).otherwise(0L)).as("n_hit1"),
          sum(when(col("m2"), 1L).otherwise(0L)).as("n_hit2"),
          sum(when(col("m4"), 1L).otherwise(0L)).as("n_hit4"))
        .join(cands, "q_id")
        .select(col("q_id"), col("n_true"),
          col("n_hit1"), col("n_cand1"),
          expr("(n_hit1 * 1000) DIV n_true").as("recall1_milli"),
          col("n_hit2"), col("n_cand2"),
          expr("(n_hit2 * 1000) DIV n_true").as("recall2_milli"),
          col("n_hit4"), col("n_cand4"),
          expr("(n_hit4 * 1000) DIV n_true").as("recall4_milli"))
        .orderBy(col("q_id"))
    }),

    // PAGERANK over the blocked k-NN graph (Page et al. 1999 in its
    // iteration-bounded integer form — the hub/centrality score for
    // embedding neighborhoods: high-rank vectors are the corpus's
    // semantic hubs, the representative-sample / dedup-keeper signal
    // next to ss31's labels): ranks live in integer MICRO units
    // (start 1,000,000; update 150,000 + 850·inflow DIV 1000 with
    // inflow = Σ r_src DIV outdeg_src — every step a flooring integer
    // op both engines compute identically), TWO rounds unrolled into
    // plan stages; top-50 hubs reported. Scale shape: the graph is
    // ss28's corpus-linear blocked build; each round is one edge-sized
    // id-keyed join + one map-side-combinable inflow agg + a
    // node-sized left join — edge-linear per round, rounds a FIXED
    // unroll (never a driver loop); the oracle shares ss28's graph
    // CTE verbatim so the two cannot disagree about the graph.
    "ss33_pagerank" -> ((s, d) => {
      val e = emb(s, d)
      val g = knnGraphBlocked(hashCells(e, targetCellSize = 64), k = 3)
        .select(col("vec_id"), col("nbr_id"))
      pagerankOf(g, rounds = 2)
        .orderBy(col("rank_micro").desc, col("vec_id"))
        .limit(50)
    }),

    // GRAPH LABEL PROPAGATION over the blocked k-NN graph (the
    // semi-supervised labeling ss28's graph exists to support:
    // quality/topic labels cover a sliver of a crawl, embedding
    // neighbors vote the rest — Zhu & Ghahramani 2002's label
    // propagation in its iteration-bounded form): 10% of vectors are
    // SEEDS (vec_id % 10 — stands in for the human-labeled slice),
    // two propagation rounds label the unlabeled by neighbor majority
    // (votes desc, smallest label ties — integer-exact), newly
    // labeled nodes vote in round 2; the output audits recovery
    // against the held-out true label (the measurable-accuracy form).
    // Scale shape: the graph is ss28's corpus-linear blocked build;
    // each round is one edge-sized join + a vec_id-keyed majority agg
    // (map-side combinable) + an anti-join against the labeled set —
    // everything keyed on high-cardinality ids, nothing ever
    // all-pairs; rounds are FIXED (2), so the plan is a bounded
    // unroll, not a driver loop.
    "ss31_label_prop" -> ((s, d) => {
      val e = emb(s, d)
      val g = knnGraphBlocked(hashCells(e, targetCellSize = 64), k = 3)
        .select(col("vec_id"), col("nbr_id"))
      val seeds = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"))
      labelPropagate(g, seeds, rounds = 2)
        .join(e.select(col("vec_id"), col("label").as("true_label")), "vec_id")
        .withColumn("correct", col("label") === col("true_label"))
        .select(col("vec_id"), col("label"), col("round"), col("correct"))
        .orderBy(col("vec_id"))
    }),

    // TWO-LEVEL COARSE QUANTIZER (hierarchical IVF assignment — the
    // structure FAISS's IVF-on-IVF / coarse-then-residual quantizers
    // use so billion-scale cell counts stay assignable): top-level
    // centroids train on a 1-in-4 md5 SAMPLE (training is pay-once
    // and sampled, never a full-corpus k×n×d term), each top cell
    // refines into 4 hash-split sub-centroids computed cell-LOCALLY
    // from the same sample, and the corpus assigns in two broadcast-
    // argmin stages — k1 + k2 comparisons per vector instead of
    // k1·k2 (with k1 = k2 = √k this is the √k trick that makes
    // k ~ √n cell counts affordable; at 100 TB stage 2's equi-join
    // reads only the vector's own cell's sub-centroids). Zero corpus
    // shuffles; empty sub-cells report cell2 = -1 rather than
    // dropping rows. This is ALSO ss28's principled trained-cell
    // source: (cell1, cell2) at √n × √n cells keeps knn-graph cell
    // sizes constant with trained (not hash) locality.
    "ss30_ivf_hier" -> ((s, d) =>
      hierAssignOf(emb(s, d), subK = 4, sampleMod = 4)
        .orderBy(col("vec_id"))),

    // MMR-DIVERSIFIED top-k (Carbonell & Goldstein 1998 — the
    // "diverse retrieval" rerank every vector DB ships: near-duplicate
    // hits crowd out coverage, so after relevance ranks a shortlist,
    // picks greedily maximize relevance MINUS similarity to what's
    // already picked): per batch query, the exact-cosine top-8
    // shortlist reranks to 4 picks; with λ=1/2 the argmax of
    // λ·rel − (1−λ)·max_sim is the argmax of (rel − penalty), so the
    // MMR score stays a pure INTEGER (milli-floored cosines — both
    // engines floor identical doubles) and the greedy loop is
    // engine-exact with (score desc, vec_id) ties. The 4 steps UNROLL
    // into plan stages (selection is inherently sequential — but over
    // SHORTLIST-sized frames only: the corpus appears exactly once,
    // in the shortlist scan against the broadcast batch with its
    // per-query top-8 as a partial WindowGroupLimit, the ss08/ss25
    // pinned shape; the pairwise-sim table is |batch|·8·8 and every
    // step join is bounded by it). DuckDB replays the identical
    // unrolled steps.
    "ss29_mmr" -> ((s, d) => {
      val e = emb(s, d)
      // batch capped by the id bound (ss17/ss25's rule): a serving
      // batch is bounded by construction; only the corpus grows
      val q = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      mmrDiversify(e, q, shortlist = 8, k = 4)
        .orderBy(col("q_id"), col("pick"))
    }),

    // Brute-force cosine top-k vs the query vector (broadcast).
    "ss01_brute_topk" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === QueryId).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10 * 5)
    }),

    // LSH-bucketed ANN: only the query's bucket is scored. At 100 TB
    // the bucket column is precomputed/partitioned-on, so a probe scans
    // ~1/2^8 of the data instead of all of it.
    "ss02_lsh_ann" -> ((s, d) => {
      val withB = emb(s, d).withColumn("bucket", bucketCol(col("embedding")))
      val q = withB.filter(col("vec_id") === QueryId)
        .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
      withB.join(broadcast(q), col("bucket") === col("q_bucket"))
        .select(col("vec_id"), col("bucket"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Multi-table LSH ANN: 4 independent hyperplane tables (8 planes
    // each from the shared md5-derived set of 32); a vector is a
    // candidate if it shares the query's bucket in ANY table — the
    // classic recall amplifier (miss probability decays exponentially
    // in the table count). For a single query the check is a per-row
    // OR against ONE broadcast row: zero shuffle, scan speed; a query
    // BATCH would union 4 bucket equi-joins instead.
    "ss07_lsh_multitable" -> ((s, d) => {
      val planes32 = planesN(32)
      val e = emb(s, d)
      val bCols = (0 until 4).map { t =>
        (0 until 8).map { j =>
          when(dotConst(col("embedding"), planes32(t * 8 + j)) > 0.0,
            lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _).cast("int").as(s"b$t")
      }
      val bt = e.select(col("vec_id") +: col("embedding") +: bCols: _*)
      val q = bt.filter(col("vec_id") === QueryId)
        .select(col("embedding").as("q_emb"),
          col("b0").as("qb0"), col("b1").as("qb1"), col("b2").as("qb2"), col("b3").as("qb3"))
      bt.crossJoin(broadcast(q))
        .filter(col("b0") === col("qb0") || col("b1") === col("qb1") ||
                col("b2") === col("qb2") || col("b3") === col("qb3"))
        .select(col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Multi-probe IVF (nprobe=2): the recall knob. The query probes
    // its TWO nearest centroid cells instead of one — array_sort the
    // per-cell distance structs and slice, still zero-shuffle for the
    // assignment; the probe is an equi-join on cell against the tiny
    // broadcast (q_emb, q_cell) pair set. At 100 TB with the corpus
    // pre-partitioned by cell, nprobe=k reads exactly k partitions.
    "ss06_ivf_multiprobe" -> ((s, d) => {
      val e = emb(s, d)
      // persist(): `cents` is broadcast into TWO crossJoins (corpus
      // assignment + query probe list); without the cache its two
      // groupBy stages execute once per consumer. `assigned` itself is
      // consumed exactly once here, so it is NOT cached (unlike ss05).
      val cents = centroidArray(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cellStructs = transform(col("cents"),
        c => struct(l2distSq(col("embedding"), c.getField("cvec")).as("dist2"),
                    c.getField("c_label").as("cell")))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("best", array_min(cellStructs))
        .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
      val q = e.filter(col("vec_id") === QueryId).crossJoin(broadcast(cents))
        .select(col("embedding").as("q_emb"),
          slice(array_sort(cellStructs), 1, 2).as("probes"))
        .select(col("q_emb"), explode(col("probes.cell")).as("q_cell"))
      assigned.join(broadcast(q), col("cell") === col("q_cell"))
        .select(col("vec_id"), col("cell"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // RANGE SEARCH — the vector-DB query form top-k stops short of
    // (FAISS range_search / Milvus "radius" queries): ALL neighbors
    // with cosine >= tau for each query in the batch, not a fixed k —
    // the form dedup thresholds, compliance lookups ("everything this
    // similar"), and recall-oriented retrieval use, where the caller
    // wants the (variable-size) epsilon-ball, with its size reported
    // per query. Composes the ss06 machinery: each query probes its 2
    // nearest cells, candidates are cell-mates only (at 100 TB the
    // probe reads nprobe cell partitions, never the corpus), exact
    // cosine filters >= tau, and the per-query ball size rides along
    // via a candidate-bounded window count. Queries whose ball is
    // empty simply emit nothing — the honest range semantics.
    "ss27_range_search" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      // persist(): cents broadcasts into BOTH crossJoins (ss06's rule)
      val cents = centroidArray(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cellStructs = transform(col("cents"),
        c => struct(l2distSq(col("embedding"), c.getField("cvec")).as("dist2"),
                    c.getField("c_label").as("cell")))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("best", array_min(cellStructs))
        .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
      val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .crossJoin(broadcast(cents))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          slice(array_sort(cellStructs), 1, 2).as("probes"))
        .select(col("q_id"), col("q_emb"), explode(col("probes.cell")).as("q_cell"))
      val matches = assigned.join(broadcast(qs), col("cell") === col("q_cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("cell"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.25)
      matches
        .withColumn("n_range", count(lit(1)).over(Window.partitionBy(col("q_id"))))
        .orderBy(col("q_id"), col("cos_sim").desc, col("vec_id"))
    }),

    // SEMANTIC decontamination — tx11's embedding-space twin (the
    // FineWeb/LLM-decontam check n-grams miss: a benchmark item
    // paraphrased into training data shares no 5-gram but sits close
    // in embedding space). Asymmetric by design: the BENCHMARK side
    // is small (eval sets are), so its LSH band keys broadcast —
    // tx11's broadcast discipline applied to vectors — and the corpus
    // is scanned once, never self-joined (dd05 is the symmetric
    // corpus x corpus form). 4 bands x 12-bit keys bound candidates;
    // exact cosine >= 0.35 verifies; per corpus vector: candidate /
    // hit counts, the flag, and the nearest flagged benchmark item
    // (max(struct(cos, -id)) — map-side combinable, no window).
    "ss19_semantic_decontam" -> ((s, d) => {
      // 8-bit keys: the band key space is sized to the BENCHMARK side
      // (eval sets are small — 256 buckets/band bounds its occupancy);
      // the corpus side only probes. dd05's adaptive sizing tracks the
      // corpus because BOTH its sides grow; here one side is fixed.
      val bits = 8
      val planes48 = planesN(4 * bits)
      def bandCols = (0 until 4).map { band =>
        (0 until bits).map { j =>
          when(dotConst(col("embedding"), planes48(band * bits + j)) > 0.0,
            lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _).cast("int").as(s"bk$band")
      }
      val e = emb(s, d)
      def bands(df: DataFrame) = df.select(col("vec_id") +: bandCols: _*)
        .select(col("vec_id"), posexplode(array((0 until 4).map(b => col(s"bk$b")): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      val bench = e.filter(col("vec_id") % 10 === 3)
      val corp = e.filter(col("vec_id") % 10 =!= 3)
      val cand = bands(corp)
        .join(broadcast(bands(bench).withColumnRenamed("vec_id", "bench_id")),
          Seq("band", "bkey"))
        .select(col("vec_id"), col("bench_id")).distinct()
      val scored = cand
        .join(corp.select(col("vec_id"), col("embedding").as("ce")), "vec_id")
        .join(broadcast(bench.select(col("vec_id").as("bench_id"), col("embedding").as("be"))),
          "bench_id")
        .withColumn("cos_sim", cosine(col("ce"), col("be")))
      val agg = scored.groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("cos_sim") >= 0.35, 1L).otherwise(0L)).as("n_hits"),
          max(when(col("cos_sim") >= 0.35,
            struct(col("cos_sim"), (-col("bench_id")).as("neg_id")))).as("m"))
      corp.select(col("vec_id"))
        .join(agg, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"),
          (-col("m.neg_id")).as("best_bench"), col("m.cos_sim").as("best_cos"))
        .orderBy(col("vec_id"))
    }),

    // FILTERED ANN — metadata-constrained search (a vector DB's
    // "filtered search" / FAISS IDSelector): top-k among vectors
    // satisfying a predicate, here label != the query's label
    // (cross-class neighbors — e.g. "nearest docs NOT from my own
    // source"). The filter applies BEFORE scoring inside the probed
    // cells, so selectivity cuts compute rather than post-hoc
    // trimming recall; nprobe=2 (ss06's knob) compensates the
    // candidates the predicate removes. At 100 TB the predicate is an
    // ordinary column filter on the cell-partitioned scan — pushdown
    // applies like any other scan filter, and the probe still reads
    // exactly nprobe partitions.
    "ss18_filtered_ann" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cellStructs = transform(col("cents"),
        c => struct(l2distSq(col("embedding"), c.getField("cvec")).as("dist2"),
                    c.getField("c_label").as("cell")))
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("best", array_min(cellStructs))
        .select(col("vec_id"), col("label"), col("embedding"), col("best.cell").as("cell"))
      val q = e.filter(col("vec_id") === QueryId).crossJoin(broadcast(cents))
        .select(col("embedding").as("q_emb"), col("label").as("q_label"),
          slice(array_sort(cellStructs), 1, 2).as("probes"))
        .select(col("q_emb"), col("q_label"), explode(col("probes.cell")).as("q_cell"))
      assigned.join(broadcast(q), col("cell") === col("q_cell"))
        .filter(col("label") =!= col("q_label"))
        .select(col("vec_id"), col("label"), col("cell"),
          cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // Batch ANN — the query-BATCH form of ss02 (SURVEY §7 R4 #4): a
    // whole set of query vectors resolves in ONE pass as a bucket
    // equi-join instead of Q per-row probes. The batch is broadcast
    // here (small query sets); a huge batch would flip to a plain
    // shuffle equi-join on bucket — same plan shape, still never
    // all-pairs. Per-query top-k via a window over CANDIDATES only
    // (bucket-mates, ~1/2^8 of the corpus), not the corpus.
    "ss08_batch_ann" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val withB = emb(s, d).withColumn("bucket", bucketCol(col("embedding")))
      val qs = withB.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      withB.join(broadcast(qs), "bucket")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    // One k-means Lloyd iteration (the refine loop of IVF/SemDeDup
    // clustering): seed centroids = per-label centroids (exact,
    // quantized-long sums), assign every vector to its nearest seed
    // with the zero-shuffle broadcast argmin fold (ss03), then
    // recompute per-cell centroids from the SAME quantized longs —
    // order-free integer sums, one hash shuffle on (cell, pos). The
    // per-dim shift vs the seed shows convergence. At 100 TB each
    // iteration is: broadcast k centroids + one scan + one agg.
    "ss09_kmeans_iter" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
          col("embedding"), col("cents"), "cvec", "c_label"))
        .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
      // dense-buffer recompute (the centroidArray/kmeansTrain rework):
      // one dim-long VectorSumAgg buffer per cell on the wire instead
      // of dim exploded rows per vector; identical floor(x*100+0.5)
      // integer sums and count divisor, k x dim rows explode post-agg
      val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
      val newCents = assigned
        .groupBy(col("cell"))
        .agg(vecsum(col("embedding")).as("vsum"), count(col("embedding")).as("nv"))
        .select(col("cell"), col("nv"), posexplode(col("vsum")))
        .select(col("cell"), col("pos"), col("nv").as("n"),
          (col("col").cast("double") / (col("nv") * 100)).as("new_c"))
      val old = cents.select(explode(col("cents")).as("c"))
        .select(col("c.c_label").as("cell"), posexplode(col("c.cvec")))
        .select(col("cell"), col("pos"), col("col").as("old_c"))
      newCents.join(broadcast(old), Seq("cell", "pos"))
        .select(col("cell"), (col("pos") + 1).as("pos"), col("n"),
          col("new_c"), (col("new_c") - col("old_c")).as("shift"))
        .orderBy(col("cell"), col("pos"))
    }),

    // SemDeDup: semantic dedup via cluster-scoped pruning — assign
    // every vector to its nearest centroid cell, then flag any vector
    // with a SMALLER-id cluster-mate above the cosine threshold. The
    // quadratic is bounded PER CLUSTER by design (that is the whole
    // SemDeDup trick: at 100 TB you raise k so cells stay ~constant
    // size, and the self-join shuffles once on cell). `assigned`
    // persists because it feeds both sides of the self-join.
    "ss10_semdedup" -> ((s, d) =>
      semdedupPrune(emb(s, d), 0.3).orderBy(col("vec_id"))),

    // SEMDEDUP AGGRESSIVENESS CURVE — the tuning-curve member for
    // semantic dedup (dd23 tunes LSH banding, ss34 nprobe, ss36 MRL
    // width, sp16 context length; this tunes ss10's cosine
    // threshold — the knob the SemDeDup paper sweeps, trading
    // corpus size against redundancy): per τ ∈ {0.3, 0.5, 0.7, 0.9}
    // the dropped-vector count (keep-smallest convention), survivor
    // count, drop share milli, and close-pair volume. Scale shape:
    // the (cell × sub)-bucketed pair pass computes ONCE (the dd23
    // fused-fan discipline) and the 4-τ fan is a broadcast filter
    // whose rollup partial-aggs map-side; empty thresholds are
    // restored by a 4-row left join so the curve domain is total.
    "ss37_semdedup_curve" -> ((s, d) => semdedupCurveOf(emb(s, d))),

    // Quantized ANN — the memory-compressed scale path (v07's int8
    // quantization feeding search): candidates score with an EXACT
    // integer dot product over per-vector int8 codes (4x less memory
    // traffic than floats — at 100 TB the codes fit where the floats
    // don't), then only the top-20 compressed candidates rerank with
    // the exact float cosine. Integer scores are order-free and
    // engine-exact; the rerank touches 20 rows.
    "ss11_quantized_ann" -> ((s, d) => {
      val e = emb(s, d)
      val qv = e
        .withColumn("maxabs", array_max(transform(col("embedding"), x => abs(x))).cast("double"))
        .withColumn("q8", transform(col("embedding"),
          x => floor(x.cast("double") * 127.0 / col("maxabs") + 0.5).cast("long")))
      val q = qv.filter(col("vec_id") === QueryId)
        .select(col("q8").as("qq"), col("embedding").as("q_emb"))
      qv.crossJoin(broadcast(q))
        .withColumn("int_score",
          aggregate(zip_with(col("q8"), col("qq"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x))
        .orderBy(col("int_score").desc, col("vec_id"))
        .limit(20)
        .withColumn("cos_exact", cosine(col("embedding"), col("q_emb")))
        .select(col("vec_id"), col("int_score"), col("cos_exact"))
        .orderBy(col("cos_exact").desc, col("vec_id"))
        .limit(10)
    }),

    // Product-quantized ANN — THE memory-bound scale technique the
    // family was missing (ss11 compresses to int8 per dimension =
    // 1 byte/dim; PQ compresses to one code per SUBSPACE = here 8
    // codes for 64 dims, an 8x further cut — at 100 TB the PQ codes
    // of 10^10 vectors fit in cluster RAM where even int8 doesn't).
    // Codebooks: the label-centroid subspace slices (deterministic,
    // the ss03/ss09 quantized-centroid machinery — production swaps
    // in k-means codebooks via the same shape). Encode = per-row
    // argmin over the BROADCAST codebook per subspace (zero shuffle,
    // the ss03 argmin-fold pattern); query scoring = asymmetric
    // distance (ADC): the query's distance to each vector is the sum
    // of its per-subspace distances to that vector's CODEWORDS,
    // folded per-row in subspace order (deterministic fp). Top-20 by
    // (adc, vec_id) via TakeOrdered, then exact-cosine rerank to 10 —
    // ss11's rerank discipline: the compressed score prunes, the
    // exact score decides.
    //
    // ADC is LUT-based, as real PQ scoring is: the query's distance to
    // every codeword of every subspace (NumSub x K doubles) is computed
    // ONCE in the single-row codebook frame and broadcast; each fact
    // row then does NumSub array lookups + adds instead of re-scanning
    // the codebook and re-deriving query->codeword distances per row —
    // at 10^10 rows that scan was a 10-100x constant on the scoring
    // loop. Same zero-fact-shuffle topology; identical fp results
    // (same l2distSq expression over the same operands, folded in the
    // same subspace order). `codes` ships as a '-'-joined string so
    // the output stays hashable scalars.
    "ss13_pq_ann" -> ((s, d) => {
      val e = emb(s, d)
      pqSearch(e, pqSeed(e))
    }),

    // PQ with TRAINED codebooks — ss13's label-centroid codebook is
    // the seed, then two deterministic Lloyd iterations PER SUBSPACE
    // (the ss09 k-means machinery applied to subspace slices) refine
    // it: assign every vector's m-th slice to its nearest codeword
    // (broadcast argmin, zero fact shuffle), recompute codewords as
    // exact quantized-long means (order-free integer sums, one
    // partial-agg'd shuffle of NumSub*K*SubDim groups per iteration).
    // Search is the identical LUT-ADC shape as ss13 — training only
    // swaps the codebook frame. At 100 TB training runs on a sample
    // and the codebook freezes (see ss15); here it trains on the
    // corpus so the oracle can replay it exactly.
    "ss14_pq_train" -> ((s, d) => {
      val e = emb(s, d)
      val cb = pqIterate(e, pqIterate(e, pqSeed(e)))
      pqSearch(e, cb)
    }),

    // INCREMENTAL PQ encode — dd12/ss12's twin for the compressed
    // index: the ESTABLISHED corpus (vec_id % 5 != 0) owns the FROZEN
    // codebook; an arriving batch (vec_id % 5 == 0) encodes against
    // it as a broadcast argmin — 8 codes + a reconstruction error per
    // new vector, ZERO shuffle of anything, and the old corpus is
    // never re-encoded (its codes are already in the index topic; see
    // TopicStream.pqEncodeStream for the continuous form). recon_d2
    // is the per-vector quantization-quality audit: rising recon
    // error on arrivals is the signal to retrain the codebook.
    "ss15_pq_incremental" -> ((s, d) => {
      val e = emb(s, d)
      val old = e.filter(col("vec_id") % 5 =!= 0)
      val fresh = e.filter(col("vec_id") % 5 === 0)
      pqEncode(fresh, pqSeed(old))
        .select(col("vec_id"), col("codes"), col("recon_d2"))
        .orderBy(col("vec_id"))
    }),

    // IVF-PQ — the composition the 100 TB serving index actually uses
    // (coarse quantizer prunes the corpus to one cell, PQ-ADC scores
    // only the cell's members from compressed codes): ss05's
    // zero-shuffle cell assignment restricts the candidates, ss13's
    // LUT-ADC ranks them, exact cosine reranks the top-20. At scale
    // the corpus is stored cell-partitioned with codes precomputed,
    // so a probe reads ONE partition's codes — RAM-resident where
    // even int8 vectors aren't — and touches float vectors only for
    // the rerank handful. Everything here is broadcast-side except
    // the cell-restricted scoring scan.
    "ss16_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("cell", graft.functions.VectorFunctions.cellArgmin(
          col("embedding"), col("cents"), "cvec", "c_label").getField("cell"))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = assigned.filter(col("vec_id") === QueryId)
        .select(col("embedding").as("q_emb"), col("cell").as("q_cell"))
      val qlut = pqSeed(e).crossJoin(q)
        .withColumn("lut", transform(subIdxCol, m =>
          transform(element_at(col("cb"), m + 1), cw =>
            l2distSq(subSlice(col("q_emb"), m), cw.getField("svec")))))
      assigned.join(broadcast(qlut), col("cell") === col("q_cell"))
        .withColumn("subbest", transform(subIdxCol, m =>
          array_min(transform(element_at(col("cb"), m + 1), (cw, i) =>
            struct(l2distSq(subSlice(col("embedding"), m), cw.getField("svec")).as("d2"),
                   cw.getField("code").as("code"),
                   i.as("idx"))))))
        .withColumn("codes", concat_ws("-",
          transform(col("subbest"), b => b.getField("code").cast("string"))))
        .withColumn("adc", aggregate(
          zip_with(subIdxCol, col("subbest"), (m, b) =>
            element_at(element_at(col("lut"), m + 1), b.getField("idx") + 1)),
          lit(0.0), (acc, x) => acc + x))
        .orderBy(col("adc").asc, col("vec_id")).limit(20)
        .withColumn("cos_exact", cosine(col("embedding"), col("q_emb")))
        .select(col("vec_id"), col("cell"), col("codes"), col("adc"), col("cos_exact"))
        .orderBy(col("cos_exact").desc, col("vec_id")).limit(10)
    }),

    // BATCH IVF-PQ — the production SERVING query: ss08's query-batch
    // discipline composed with ss16's LUT-ADC. The index side is what
    // a serving cluster actually stores: every corpus vector's cell +
    // its PQ code INDICES, computed once (cell-partitioned + codes
    // RAM-resident at 100 TB). The query batch (10 queries here)
    // derives per-query probe cells (nprobe=2, ss06's multiprobe) and
    // per-query LUTs (NumSub x K codeword distances — a few KB each),
    // and the WHOLE batch broadcasts: the probe join touches only
    // probed cells' codes, scoring is a pure LUT gather + fold (no
    // float vectors until the rerank handful). Cost ∝ batch x nprobe
    // x cell size — corpus scans appear only in index build, never
    // per query. Exact-cosine rerank of each query's ADC top-10
    // yields the final top-3 (ss08's per-query-k).
    "ss22_ivfpq_batch" -> ((s, d) => {
      val e = emb(s, d)
      val (cents, cb, coded) = ivfpqIndex(e)
      val qs = e.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      ivfpqProbe(coded, cents, cb, qs, nprobe = 2, shortlist = 10, k = 3,
          excludeSelf = true)
        .orderBy(col("q_id"), col("rank"))
    }),

    // RESIDUAL IVF-PQ — ss22's batch probe with the one algorithmic
    // step the serving index lacked vs FAISS IVFADC: PQ codebooks are
    // TRAINED (2 Lloyd iterations) on (vector − cell centroid)
    // residuals and codes assigned in residual space, so each
    // codeword only has to explain what the coarse quantizer left
    // unexplained — quantization error inside a cell drops and the
    // ADC shortlist gets closer to the exact ranking (QueriesSpec
    // pins recall@10 ≥ the raw-vector ss22 config on the same query
    // batch). Topology is UNCHANGED from ss22: training exchanges
    // only the NumSub×K×SubDim partial-agg per iteration, the index
    // is built once (cell-partitioned codes at 100 TB), probes
    // broadcast per-(query, probed-cell) LUTs and touch only probed
    // cells' codes.
    "ss24_ivfpq_residual" -> ((s, d) => {
      val e = emb(s, d)
      val idx = ivfpqResidualIndex(e)
      val qs = e.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      ivfpqResidualProbe(idx.coded, idx.cents, idx.rcb, qs, nprobe = 2,
          shortlist = 10, k = 3, excludeSelf = true)
        .orderBy(col("q_id"), col("rank"))
    }),

    // MATRYOSHKA PREFIX-DIM two-stage ANN (MRL, Kusupati et al. 2022
    // — the "adaptive retrieval" serving trick modern embedding models
    // ship with): the coarse pass ranks the corpus by cosine over the
    // FIRST 16 of 64 dims only, the top-40 shortlist is then fetched
    // and reranked by full-dim exact cosine. At 100 TB the prefix is a
    // separate narrow column (or its own IVF index): the coarse scan
    // reads P/D = 1/4 of the vector bytes, and the rerank touches full
    // vectors for only shortlist x Q rows. Scale shape: the coarse
    // per-query top-40 is a literal-limit rank window — Catalyst plans
    // a PARTIAL WindowGroupLimit BEFORE the shuffle (SPARK-37099, the
    // q07/ts23 pinned shape), so map-side state is 40 rows per query
    // and only (q_id, vec_id, pre_cos) scalars ride the exchange,
    // never vectors; the rerank fetch is a broadcast equi-join of the
    // tiny shortlist back onto the corpus. Query batch is bounded
    // (ss17's capped sample rule). Both cosines are the fused
    // one-pass kernel — bit-identical to the oracle's list_sum form.
    "ss25_mrl_prefix" -> ((s, d) => {
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      mrlPrefixTopK(e, qs, prefixDims = 16, shortlist = 40, k = 10,
          excludeSelf = true)
        .orderBy(col("q_id"), col("rank"))
    }),

    // MRL PREFIX-LENGTH TUNING CURVE — the third member of the
    // recall-vs-cost audit triad (ss17 tunes LSH table counts, ss34
    // tunes IVF probe depth; this tunes the Matryoshka truncation
    // every MRL deployment picks — Kusupati et al. 2022): recall@10
    // of a fixed-40 shortlist built from prefix cosines at 8/16/32
    // dims against the exact full-64 top-10 truth, per query. Compute
    // cost is proportional to the prefix width (milli column), so the
    // report reads as "recall bought per dimension". Scale shape:
    // ss17/ss34's bounded-audit discipline — the id-capped query
    // batch broadcasts, the Q×N audit frame persists ONCE and carries
    // all three prefix cosines + the exact cosine; every rank window
    // runs per-query over that frame (one q_id exchange, four sorts).
    // At 100 TB this registered exact form doesn't run — the
    // api.mrlCurve verb auto-routes to a registry-SAMPLED truth
    // corpus past 100k vectors ([[mrlSampleOneInFor]]), keeping the
    // audit frame flat; the exact Q×N form stays available behind an
    // explicit sampleOneIn=1 (and is what the oracle pins here, at
    // oracle scale).
    "ss36_mrl_curve" -> ((s, d) => {
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      mrlCurveReport(mrlAuditOf(e, qs)).orderBy(col("q_id"))
    }),

    // IVF CELL-BALANCE audit — the index-maintenance report every
    // IVF deployment watches (ss17's structural twin: that one audits
    // recall, this audits the partition layout recall depends on): a
    // skewed coarse quantizer makes hot cells absorb the corpus, so
    // probe latency degrades to a corpus scan on exactly the popular
    // queries. Per cell: member count, share of the corpus (milli),
    // balance factor vs the uniform ideal (1000 = perfectly even),
    // and the oversized flag (> 2x the uniform share — FAISS's own
    // rebalance heuristic). Scale shape: assignment is the ss03/ss05
    // zero-shuffle broadcast argmin; the rollup partial-aggs into a
    // |cells|-row frame; corpus-wide totals are a 1-row broadcast.
    "ss26_cell_balance" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
      val counts = e.crossJoin(broadcast(cents))
        .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
          col("embedding"), col("cents"), "cvec", "c_label"))
        .groupBy(col("best.cell").as("cell"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.agg(sum(col("n")).as("total"),
        count(lit(1)).as("n_cells"))
      counts.crossJoin(broadcast(totals))
        .select(col("cell"), col("n"), col("total"), col("n_cells"),
          expr("(n * 1000) DIV total").as("share_milli"),
          expr("(n * n_cells * 1000) DIV total").as("balance_milli"),
          (col("n") * col("n_cells") > col("total") * 2).as("oversized"))
        .orderBy(col("cell"))
    }),

    // ANN RECALL AUDIT — dd08's vector twin: measure recall@10 of TWO
    // LSH configs (ss02's single 8-plane table vs ss07's 4-table
    // any-match amplifier) against the exact cosine top-10 ground
    // truth, per query, on the ss08 query batch. This is the
    // calibration report that picks an ANN config BEFORE it serves:
    // the same audit shape reports recall AND candidate cost side by
    // side, so the recall/cost knob is a measured trade, not a guess.
    // Ground truth costs one corpus scan against the broadcast query
    // batch (Q bounded — audits run on a sampled query set, never all
    // queries); each ANN side reuses its index's own candidate
    // generation; every top-10 window runs over per-query candidates
    // only. Output is all-integer (counts + recall milli).
    "ss17_recall_report" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val planes32 = planesN(32)
      def tableCol(t: Int): Column = (0 until 8).map { j =>
        when(dotConst(col("embedding"), planes32(t * 8 + j)) > 0.0,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).cast("int")
      val withB = emb(s, d).withColumn("bucket", bucketCol(col("embedding")))
        .withColumn("b0", tableCol(0)).withColumn("b1", tableCol(1))
        .withColumn("b2", tableCol(2)).withColumn("b3", tableCol(3))
      // BOUNDED query sample: % 50 alone would grow the audit batch
      // with the corpus (and the Q x N truth frame quadratically) —
      // an audit's query set is a fixed sample, so cap the id range
      // (a no-op at the pinned SFs, the bound at any blowup).
      val qs = withB.filter(col("vec_id") % 50 === 7 && col("vec_id") < 5000)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket").as("qb"),
          col("b0").as("qb0"), col("b1").as("qb1"), col("b2").as("qb2"), col("b3").as("qb3"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
      // all: the Q x N audit frame — feeds ground truth AND both
      // candidate filters (persist: one corpus scan, the ss05
      // discipline). At 100 TB each config's candidates would come
      // from its own bucket equi-join instead; the any-table OR is
      // not an equi-join key, so the audit frame is the honest form.
      val all = withB.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cos_sim"),
          (col("bucket") === col("qb")).as("m1"),
          (col("b0") === col("qb0") || col("b1") === col("qb1") ||
           col("b2") === col("qb2") || col("b3") === col("qb3")).as("m4"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = all.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      def annSide(flag: String, suffix: String) = {
        val c = all.filter(col(flag))
        val top = c.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
          .select(col("q_id"), col("vec_id"), lit(1L).as(s"hit$suffix"))
        val n = c.groupBy(col("q_id")).agg(count(lit(1)).as(s"n_cand$suffix"))
        (top, n)
      }
      val (ann1, nc1) = annSide("m1", "1")
      val (ann4, nc4) = annSide("m4", "4")
      truth.select(col("q_id"), col("vec_id"))
        .join(ann1, Seq("q_id", "vec_id"), "left")
        .join(ann4, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit1"), lit(0L))).as("n_hit1"),
          sum(coalesce(col("hit4"), lit(0L))).as("n_hit4"))
        .join(nc1, Seq("q_id"), "left").join(nc4, Seq("q_id"), "left")
        .select(col("q_id"), col("n_true"),
          coalesce(col("n_cand1"), lit(0L)).as("n_cand1"),
          col("n_hit1"), expr("(n_hit1 * 1000) DIV n_true").as("recall1_milli"),
          coalesce(col("n_cand4"), lit(0L)).as("n_cand4"),
          col("n_hit4"), expr("(n_hit4 * 1000) DIV n_true").as("recall4_milli"))
        .orderBy(col("q_id"))
    }),

    // Nearest-centroid assignment — the IVF coarse quantizer. The
    // round-1 form (crossJoin x L centroids + row_number() window)
    // forced a full shuffle+sort of the L-times-expanded corpus on
    // vec_id just to take an argmin — a scale-killer at 100 TB. Now:
    // centroids fold into ONE row (label-sorted array of structs),
    // broadcast, and each vector takes array_min over
    // struct(dist2, label) — same (dist2, label) tie-break as the
    // window, with ZERO exchange/sort on the fact side.
    "ss03_pairwise_label" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroidArray(e)
      e.crossJoin(broadcast(cents))
        .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
          col("embedding"), col("cents"), "cvec", "c_label",
          labelName = "nearest_label"))
        .select(col("vec_id"), col("label"),
          col("best.nearest_label").as("nearest_label"), col("best.dist2").as("dist2"))
        .orderBy(col("vec_id"))
    }),

    // Embedding-space covariance + top principal direction — the
    // whitening / drift-QA pass an embedding pipeline runs before
    // trusting ANN distances (a collapsed or drifting space shows up
    // as one dominant direction): per-dim sums, the full d x d
    // covariance, and two UNNORMALIZED power-iteration steps whose
    // result is scaled by its max |component| — every aggregate is an
    // exact integer (milli-quantized elements, n*S_ij - S_i*S_j
    // moments; power steps rescale through an exact long in
    // [-1000, 1000]), so group-sum order never moves a bit and the
    // only doubles are two identical long->double divisions at output.
    // Scale shape: the moments come from ONE corpus scan folded into a
    // dense per-partition buffer by the MomentAgg typed Aggregator —
    // nothing is generated per row and the wire carries partitions x
    // (d^2+d+2) longs (the double-posexplode form this replaced
    // expanded every row 4096x before its hash agg — measured 5x
    // slower at sf0.1); both power steps and the rescales run on the
    // broadcast 4096-row moment frame — tiny joins, no second corpus
    // pass, no driver-side linear algebra. At 100 TB this is the
    // standard distributed-covariance plan; more components = re-run
    // the two tiny power joins, deflating through the same integer
    // rescale. Integer quantization makes the Aggregator's merge
    // order irrelevant, so its moments are bit-identical to the
    // oracle's explode-then-SUM over the same milli grid.
    "ss20_pca_power" -> ((s, d) => pcaPower(emb(s, d), 64)),

    // Hybrid retrieval — reciprocal-rank fusion of a LEXICAL shortlist
    // (tx22's integer tf-idf over documents) and a VECTOR shortlist
    // (ss01's brute cosine vs the broadcast query) for the same query
    // intent; doc_id==vec_id is the corpus join key. Fusion is
    // rank-based (score = Σ 1e6 DIV (60 + rank), the standard RRF
    // k=60), so the fused output is exact integer math even though one
    // retriever scores in floats — ranks are the only thing crossing
    // the modality boundary, which is WHY RRF is the production fusion
    // default. Scale shape: each retriever is its own top-50 via
    // TakeOrdered (no global sort); ranking then happens on the two
    // 50-row shortlists (driver-small by construction — the window
    // sort is bounded by k, not the corpus), and the fusion join is
    // shortlist x shortlist. Corpus cost = one documents scan (term
    // filter at the explode) + one embeddings scan (broadcast query).
    "ss21_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("vector", "join", "scan")
      val dtab = Tables.spread(Tables(s, d, "documents"))
      val e = emb(s, d)
      val n = dtab.agg(count(lit(1)).as("n_docs"))
      // r13: per-doc term counts computed IN the row (TermCountsExpr,
      // the tx22 form): no split of every token, no per-token filter,
      // and the (doc, term) hash-agg exchange disappears
      val tf = dtab
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.termCounts(
            lower(col("text")), terms)))
        .filter(col("col") > 0)
        .select(col("doc_id"),
          element_at(typedLit(terms), col("pos") + 1).as("w"),
          col("col").cast("long").as("tf"))
      val idf = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("w"), expr("(1000000 * n_docs) DIV df").as("idf_sc"))
      val lexTop = tf.join(broadcast(idf), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("idf_sc")).as("lex_score"))
        .orderBy(col("lex_score").desc, col("doc_id")).limit(50)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("lex_score").desc, col("doc_id"))).cast("int"))
      val q = e.filter(col("vec_id") === QueryId).select(col("embedding").as("q_emb"))
      val vecTop = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"), cosine(col("embedding"), col("q_emb")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("doc_id")).limit(50)
        .withColumn("vec_rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))).cast("int"))
      vecTop.select(col("doc_id"), col("vec_rank"))
        .join(lexTop.select(col("doc_id"), col("lex_rank")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          (coalesce(expr("1000000 DIV (60 + vec_rank)"), lit(0L)) +
            coalesce(expr("1000000 DIV (60 + lex_rank)"), lit(0L))).as("rrf_micro"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
        .limit(10)
    }),

    // The k-means TRAINING LOOP, oracle-replayed — api.kmeansTrain's
    // fixed-iteration form (the loop ss09's single iteration and
    // ss14's per-subspace refinements stop short of checking as a
    // LOOP): label-seeded centroids (hash-free, so DuckDB can replay
    // the identical start), then exactly 3 Lloyd rounds through the
    // REAL api.kmeansTrain machinery (epsMilli = -1 disables early
    // convergence). Every round is broadcast-argmin assignment (zero
    // fact-side shuffle) + exact quantized-long centroid recompute
    // (one partial-agg'd k x dim exchange), localCheckpoint-truncated
    // so round N's plan never embeds round N-1's crossJoins; the only
    // driver traffic per round is the k x dim shift scalar. The
    // oracle chains the same 3 rounds as CTEs — assignment ties break
    // on (d2, cell) in both engines, and centroid doubles are
    // exact-integer-sum quotients, so the replay is bit-exact. */
    "ss23_kmeans_train" -> ((s, d) => {
      val e = emb(s, d)
      // dense-buffer label seed (the centroidArray rework): one
      // VectorSumAgg buffer per label on the wire, (cell, pos, c)
      // rows exploded AFTER the agg — bit-identical means
      val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
      val init = e
        .groupBy(col("label").cast("long").as("cell"))
        .agg(vecsum(col("embedding")).as("vsum"), count(col("embedding")).as("n"))
        .select(col("cell"), col("n"), posexplode(col("vsum")))
        .select(col("cell"), col("pos"),
          (col("col").cast("double") / (col("n") * 100)).as("c"))
      val m = graft.api.VectorOpsSyntax(e).kmeansTrain("vec_id", "embedding",
        k = 10, maxIter = 3, epsMilli = -1L, init = Some(init))
      m.centroids
        .select(col("cell"), (col("pos") + 1).cast("int").as("pos"), col("c"))
        .orderBy(col("cell"), col("pos"))
    })
  )

  /** ss20's core, reusable on any frame with an `embedding` column:
    * one MomentAgg pass -> (n, per-dim sums, d x d second moments),
    * exact-integer covariance, two integer-rescaled power-iteration
    * steps. Returns one row per dim: (dim, sum_milli, var_q, loading). */
  private[graft] def pcaPower(e: DataFrame, dim: Int): DataFrame = {
    val D = dim
    val moments = org.apache.spark.sql.functions.udaf(graft.functions.MomentAgg)
    val flat = e
      .agg(moments(col("embedding")).as("m"))
      .select(posexplode(col("m")).as(Seq("p", "v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRow = flat.filter(col("p") === 1).select(col("v").as("n"))
    val dims = flat.filter(col("p") >= 2 && col("p") < 2 + D)
      .select((col("p") - 2).as("i"), col("v").as("s_i"))
      .crossJoin(broadcast(nRow))
    val cells = flat.filter(col("p") >= 2 + D)
      .select(((col("p") - (2 + D)) / D).cast("int").as("i"),
        pmod(col("p") - (2 + D), lit(D)).as("j"), col("v").as("s_ij"))
    val cov = cells
      .join(broadcast(dims), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("s_i").as("s_j"))), "j")
      .select(col("i"), col("j"),
        (col("n") * col("s_ij") - col("s_i") * col("s_j")).as("cq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v1 = cov.groupBy(col("j")).agg(sum(col("cq")).as("v1"))
    val m1 = v1.agg(max(abs(col("v1"))).as("m1"))
    val v1q = v1.crossJoin(broadcast(m1))
      .select(col("j").as("i"),
        floor(col("v1").cast("double") / col("m1").cast("double") * 1000 + 0.5)
          .cast("long").as("w"))
    val v2 = cov.join(broadcast(v1q), "i")
      .groupBy(col("j")).agg(sum(col("cq") * col("w")).as("v2"))
    val m2 = v2.agg(max(abs(col("v2"))).as("m2"))
    val diag = cov.filter(col("i") === col("j"))
      .select(col("j"), col("cq").as("var_q"))
    v2.crossJoin(broadcast(m2))
      .join(broadcast(diag), "j")
      .join(broadcast(dims.select(col("i").as("j"), col("s_i"))), "j")
      .select((col("j") + 1).cast("int").as("dim"),
        col("s_i").as("sum_milli"), col("var_q"),
        (col("v2").cast("double") / col("m2").cast("double")).as("loading"))
      .orderBy(col("dim"))
  }

  /** SemDeDup pruning over an arbitrary (vec_id, embedding, label)
    * frame — the ss10 operator as a reusable building block: assign
    * each vector to its nearest per-label centroid cell, then flag
    * vectors with a smaller-id cluster-mate above `tau` cosine.
    * Returns (vec_id, cell, n_close_smaller, max_cos) — the prune
    * list; anti-join it against the corpus to keep the survivors. */
  /** SemDeDup pruning stats per vector: pairs are compared within
    * (semantic cell × corpus-scaled hash sub-block). r11 re-blocking
    * — the ss28 fix applied to its semantic sibling after MEASURING
    * the same knee (the fixed 10 label cells put 64x members per
    * cell under a 64x blowup → 64² pair growth, 132 s at 64x): the
    * centroid argmin keeps SemDeDup's semantic locality at the top,
    * and an md5 sub-block with n/(targetCellSize·|cells|)… strictly:
    * sub = md5(id) mod (n/640) caps the pair-join block size at a
    * constant, so the join is corpus-linear at every scale. The
    * standard blocked-near-dup recall trade applies (a near-dup pair
    * in the same semantic cell but different sub-blocks is missed —
    * the dd02 LSH-banding property); multi-table sub-blocking (ss07's
    * amplifier) recovers recall at proportional cost. */
  private[graft] def semdedupPairs(e: DataFrame): DataFrame = {
    val cents = centroidArray(e)
    val n1 = e.agg(count(lit(1)).as("n_corpus"))
    val assigned = e.crossJoin(broadcast(cents)).crossJoin(broadcast(n1))
      .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
        col("embedding"), col("cents"), "cvec", "c_label"))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"),
        pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 5), 16, 10)
            .cast("long"),
          greatest(lit(1L), floor(col("n_corpus") / 640).cast("long")))
          .cast("int").as("sub"))
      // lazy localCheckpoint, not persist: both join sides read the
      // assignment, and checkpoint blocks release on driver GC — the
      // knnGraphOf leak-fix discipline (a long-lived session calling
      // the api verb repeatedly must not accumulate cached blocks)
      .localCheckpoint(false)
    val a = assigned.select(col("cell"), col("sub"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = assigned.select(col("cell"), col("sub"),
      col("vec_id").as("vec_id"), col("embedding").as("b_emb"))
    a.join(b, Seq("cell", "sub"))
      .filter(col("a_id") < col("vec_id"))
      .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb")))
      .select(col("vec_id"), col("cell"), col("cos_sim"))
  }

  private[graft] def semdedupPrune(e: DataFrame, tau: Double): DataFrame =
    semdedupPairs(e)
      .filter(col("cos_sim") > tau)
      .groupBy(col("vec_id"), col("cell"))
      .agg(count(lit(1)).as("n_close_smaller"), max(col("cos_sim")).as("max_cos"))

  /** ss37's kernel over any (vec_id, embedding, label) corpus —
    * shared with [[graft.api]]'s `semdedupCurve` verb. See the
    * registration comment for the fused-fan shape. */
  private[graft] def semdedupCurveOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val n1 = e.agg(count(lit(1)).as("n_corpus"))
    val taus = Seq(300L, 500L, 700L, 900L).toDF("tau_milli")
    val dropped = semdedupPairs(e)
      .crossJoin(broadcast(taus))
      .filter(col("cos_sim") > col("tau_milli").cast("double") / 1000.0)
      .groupBy(col("tau_milli"), col("vec_id"))
      .agg(count(lit(1)).as("nc"))
      .groupBy(col("tau_milli"))
      .agg(count(lit(1)).as("n_dropped"), sum(col("nc")).as("n_close_pairs"))
    // the rollup is ≤4 rows but stats-opaque post-agg — hint it,
    // else the 4-row restore join plans as a sort-merge
    taus.join(broadcast(dropped), Seq("tau_milli"), "left")
      .crossJoin(broadcast(n1))
      .select(col("tau_milli"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_corpus") - coalesce(col("n_dropped"), lit(0L)))
          .as("n_survivors"),
        expr("(coalesce(n_dropped, 0) * 1000) DIV greatest(1, n_corpus)")
          .as("drop_milli"),
        coalesce(col("n_close_pairs"), lit(0L)).as("n_close_pairs"))
      .orderBy(col("tau_milli"))
  }

  /** Per-label centroids folded into a single-row DataFrame: column
    * `cents` = label-sorted array of struct(c_label, cvec). Centroid
    * elements are exact: each input element is quantized to centi-unit
    * longs (floor(x*100+0.5), engine-exact), summed as integers
    * (order-free), then divided once — so both engines see
    * bit-identical centroid constants with no round() hazards.
    */
  /** ss25's whole pipeline over any (vec_id, embedding) corpus and
    * (q_id, q_emb) query batch — the Matryoshka two-stage retrieval
    * kernel shared by the batch query and [[graft.api]]'s `mrlTopK`
    * verb. Coarse pass: cosine over the first `prefixDims` dims only
    * (at 100 TB a separate narrow prefix column — P/D of the vector
    * bytes); per-query top-`shortlist` behind a partial
    * WindowGroupLimit (only scalars ride the exchange); rerank fetch:
    * broadcast the shortlist onto the corpus, exact full-dim cosine,
    * top-`k`. */
  private[graft] def mrlPrefixTopK(e: DataFrame, qs: DataFrame,
                                   prefixDims: Int, shortlist: Int, k: Int,
                                   excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coarse0 = e
      .select(col("vec_id"), slice(col("embedding"), 1, prefixDims).as("pre"))
      .crossJoin(broadcast(qs.select(col("q_id"),
        slice(col("q_emb"), 1, prefixDims).as("q_pre"))))
    val coarse = (if (excludeSelf) coarse0.filter(col("vec_id") =!= col("q_id"))
                  else coarse0)
      .select(col("q_id"), col("vec_id"),
        cosine(col("pre"), col("q_pre")).as("pre_cos"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("pre_cos").desc, col("vec_id"))
    val short = coarse.withColumn("prk", row_number().over(wc))
      .filter(col("prk") <= shortlist)
      .select(col("q_id"), col("vec_id"), col("pre_cos"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(broadcast(short), "vec_id")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("vec_id"), col("pre_cos"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
  }

  /** OOD / outlier audit — the ss32 kernel shared with
    * [[graft.api]]'s `oodAudit` verb. `e` must carry (vec_id,
    * embedding, label). Assigns each vector to its nearest per-label
    * centroid, quantizes the squared distance to floor(d²·10⁴), takes
    * the per-cell q-quantile EXACTLY from the mergeable-histogram
    * kernel over that integer domain, and returns the strictly-beyond
    * rows (vec_id, cell, qd, p95_qd). Zero corpus-keyed shuffles: the
    * argmin is a broadcast fold, the histogram partial-aggs into the
    * (cell × grid) domain, the quantile frame broadcasts back; the
    * assignment is a lazy localCheckpoint (two readers, blocks
    * release on GC). */
  /** ss36's audit kernel over an embedding frame and a (q_id, q_emb)
    * query batch — shared by the registered query and the
    * `mrlCurve` api verb so the two can never run different pipelines: ONE
    * persisted Q×N audit frame carrying the exact cosine plus the
    * 8/16/32-dim prefix cosines, four per-query rank windows, and the
    * per-query hit counts of a fixed-40 prefix shortlist against the
    * exact top-10 truth. */
  /** ss36 sampled-truth steer (the dd08 / sourceOverlapModeFor /
    * simhashWidthFor discipline, fourth application): the exact Q×N
    * recall audit is corpus-linear PER QUERY by definition — the
    * honest calibration tool at test scale, unrunnable at 100 TB.
    * Above 100k vectors the audit corpus becomes a deterministic
    * REGISTRY SAMPLE of ~25k vectors (hash of vec_id, so reruns audit
    * the same subset): recall@k against the sampled exact truth
    * estimates full-truth recall (the standard audit-on-a-sample),
    * and the audit frame stays Q × ~25k — FLAT — at every corpus
    * scale. Explicit sampleOneIn=1 overrides — loudly paying the Q×N
    * cost is allowed, picking it by accident is not. */
  private[graft] def mrlSampleOneInFor(n: Long): Int =
    if (n <= 100000L) 1 else math.max(2, (n / 25000L).toInt)

  private[graft] def mrlAuditOf(e: DataFrame, qs: DataFrame,
                                sampleOneIn: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = if (sampleOneIn <= 1) e
      else e.filter(pmod(xxhash64(col("vec_id")), lit(sampleOneIn.toLong)) === 0L)
    // The sampled audit keeps the serving path's OWN shortlist width
    // (40): it measures the shortlist's recall at effective corpus
    // N/sampleOneIn — an UPPER estimate of the full-corpus number
    // (fewer competitors for the same 40 slots). That bias direction
    // is fixed and ApiSpec pins the exact sampled-vs-exact pair at
    // sf0.01, so drift in either form trips a spec, and a width that
    // looks weak under the sampled audit is weak a fortiori on the
    // full corpus.
    val all = corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("embedding"), col("q_emb")).as("cos_sim"),
        cosine(slice(col("embedding"), 1, 8), slice(col("q_emb"), 1, 8)).as("c8"),
        cosine(slice(col("embedding"), 1, 16), slice(col("q_emb"), 1, 16)).as("c16"),
        cosine(slice(col("embedding"), 1, 32), slice(col("q_emb"), 1, 32)).as("c32"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rk(c: String) = row_number().over(
      Window.partitionBy(col("q_id")).orderBy(col(c).desc, col("vec_id")))
    all.withColumn("r8", rk("c8")).withColumn("r16", rk("c16"))
      .withColumn("r32", rk("c32")).withColumn("trk", rk("cos_sim"))
      .filter(col("trk") <= 10)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("r8") <= 40, 1L).otherwise(0L)).as("n_hit8"),
        sum(when(col("r16") <= 40, 1L).otherwise(0L)).as("n_hit16"),
        sum(when(col("r32") <= 40, 1L).otherwise(0L)).as("n_hit32"))
  }

  /** ss36's report tail over an [[mrlAuditOf]] frame — recall milli
    * per prefix width plus the width-proportional cost column; shared
    * verbatim by the registered query and [[graft.api]]'s `mrlCurve`
    * verb so the exact and sampled forms can never diverge in shape. */
  private[graft] def mrlCurveReport(audit: DataFrame): DataFrame =
    audit.select(col("q_id"), col("n_true"),
      col("n_hit8"), expr("(n_hit8 * 1000) DIV n_true").as("recall8_milli"),
      lit(125L).as("cost8_milli"),
      col("n_hit16"), expr("(n_hit16 * 1000) DIV n_true").as("recall16_milli"),
      lit(250L).as("cost16_milli"),
      col("n_hit32"), expr("(n_hit32 * 1000) DIV n_true").as("recall32_milli"),
      lit(500L).as("cost32_milli"))

  /** ss35 stage 1: per-(cell) ADDITIVE partial sums over any
    * (vec_id, embedding, is_new) frame — both halves' populations and
    * quantized coordinate sums (dims 1-4). Additive by construction
    * (every column a sum), so a streaming twin can store per-batch
    * partials and re-sum (the wowStream/histStream discipline). */
  private[graft] def driftCellAgg(base0: DataFrame): DataFrame = {
    val cell = (1 to 4).map(i =>
      when(expr(s"CAST(element_at(embedding, $i) AS DOUBLE)") >= 0.0,
        lit(1 << (i - 1))).otherwise(lit(0))).reduce(_ + _).cast("int")
    val qCols = (1 to 4).map(i => expr(
      s"CAST(floor(CAST(element_at(embedding, $i) AS DOUBLE) * 100 + 0.5) AS BIGINT)")
      .as(s"q$i"))
    val quant = base0.withColumn("cell", cell)
      .select(Seq(col("cell"), col("is_new")) ++ qCols: _*)
    val aggs =
      Seq(sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new")) ++
      (1 to 4).flatMap(i => Seq(
        sum(when(!col("is_new"), col(s"q$i")).otherwise(0L)).as(s"qo$i"),
        sum(when(col("is_new"), col(s"q$i")).otherwise(0L)).as(s"qn$i")))
    quant.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
  }

  /** ss35 stage 2: the report tail over a summed cell frame (16 rows:
    * cell, n_old, n_new, qo1..qn4) — shared verbatim by the batch
    * kernel and [[graft.streaming.TopicStream]]'s `currentDrift`. */
  private[graft] def driftReportOf(cells0: DataFrame): DataFrame = {
    val cells = cells0.localCheckpoint(false)
    val tot = cells.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    // t_old/t_new guards (the gopherStack fail_milli discipline): a
    // globally empty half must read as zero shares, not NULL-divide
    // into a NULL drifted flag
    cells.crossJoin(broadcast(tot))
      .withColumn("share_old_milli",
        expr("CASE WHEN t_old > 0 THEN (n_old * 1000) DIV t_old ELSE 0 END"))
      .withColumn("share_new_milli",
        expr("CASE WHEN t_new > 0 THEN (n_new * 1000) DIV t_new ELSE 0 END"))
      .withColumn("shift_milli", abs(col("share_new_milli") - col("share_old_milli")))
      .withColumn("disp_centi", expr(
        """CASE WHEN n_old > 0 AND n_new > 0 THEN
          |  abs(qn1 DIV n_new - qo1 DIV n_old) + abs(qn2 DIV n_new - qo2 DIV n_old)
          |  + abs(qn3 DIV n_new - qo3 DIV n_old) + abs(qn4 DIV n_new - qo4 DIV n_old)
          |ELSE NULL END""".stripMargin))
      .withColumn("drifted",
        col("shift_milli") > 20 || coalesce(col("disp_centi"), lit(0L)) > 50)
      .select(col("cell"), col("n_old"), col("n_new"),
        col("share_old_milli"), col("share_new_milli"),
        col("shift_milli"), col("disp_centi"), col("drifted"))
  }

  /** ss35's kernel over any (vec_id, embedding, is_new) frame —
    * shared with [[graft.api]]'s `embedDrift` verb: one corpus scan
    * into the fixed 16-cell domain, report tail over the 16-row
    * frame. See [[driftCellAgg]] / [[driftReportOf]]. */
  private[graft] def embedDriftOf(base0: DataFrame): DataFrame =
    driftReportOf(driftCellAgg(base0))

  private[graft] def oodAuditOf(e: DataFrame, qMilli: Int): DataFrame = {
    val cents = centroidArray(e)
    // lazy localCheckpoint: the histogram AND the flag pass read the
    // assignment — one corpus argmin scan, blocks release on GC
    val assigned = assignQd(e, cents).localCheckpoint(false)
    assigned.join(broadcast(oodThresholds(assigned, qMilli)), "cell")
      .filter(col("qd") > col("p95_qd"))
      .select(col("vec_id"), col("cell"), col("qd"), col("p95_qd"))
  }

  /** OOD index build (pay-once): per-label centroids + the per-cell
    * exact `qMilli`-quantile of the quantized squared distance over
    * the REFERENCE corpus. Returns (centroid 1-row frame, (cell,
    * p95_qd) threshold frame) — both tiny, both broadcastable; the
    * streaming gate freezes these and scores arrivals against them
    * (the pqEncodeStream frozen-codebook shape). */
  private[graft] def oodIndex(e: DataFrame, qMilli: Int): (DataFrame, DataFrame) = {
    val cents = centroidArray(e)
    (cents, oodThresholds(assignQd(e, cents), qMilli))
  }

  /** Exact per-cell quantile thresholds over an assigned (cell, qd)
    * frame — the ts35 histogram kernel on the quantized-distance
    * domain. */
  private def oodThresholds(assigned: DataFrame, qMilli: Int): DataFrame =
    TimeSeries.histQuantilesOf(
        assigned.groupBy(col("cell").as("key"), col("qd").as("cents"))
          .agg(count(lit(1)).as("cnt")),
        Seq(qMilli))
      .select(col("key").as("cell"), col("cents").as("p95_qd"))

  /** Nearest-centroid cell + quantized squared distance per vector —
    * the shared assignment half of [[oodAuditOf]]/[[oodScore]]. */
  private def assignQd(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
        col("embedding"), col("cents"), "cvec", "c_label"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        floor(col("best.dist2") * 10000).cast("long").as("qd"))

  /** Score vectors against a FROZEN OOD index (the probe half): each
    * vector's nearest frozen centroid, quantized distance, the cell's
    * frozen threshold, and the gate flag qd > p95_qd. Per-arrival
    * cost is |cells| comparisons — corpus-free, the streaming gate's
    * per-batch shape. */
  private[graft] def oodScore(vecs: DataFrame, cents: DataFrame,
                              p95: DataFrame): DataFrame =
    assignQd(vecs, cents)
      .join(broadcast(p95), "cell")
      .select(col("vec_id"), col("cell"), col("qd"), col("p95_qd"),
        (col("qd") > col("p95_qd")).as("is_ood"))

  private def centroidArray(e: DataFrame): DataFrame = {
    // r11: dense-buffer centroids via the typed VectorSumAgg (ss04's
    // aggregator) — ONE map-side-combined buffer per (label x
    // partition) on the wire instead of dim x rows exploded rows (the
    // old posexplode form shuffled n*64 rows through two exchanges;
    // at dim=1024 the cut is 1024x). Arithmetic is BIT-IDENTICAL to
    // the exploded form every oracle replays: the aggregator
    // quantizes each element to centi-unit longs (floor(x*100+0.5))
    // before an order-free integer sum, and the centroid is the same
    // single IEEE double division sum/(n*100).
    val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
    // count(embedding), not count(*): a null embedding contributes
    // nothing to the sum (aggregator guard), so it must not inflate
    // the divisor either — the exploded form never saw such rows
    e.groupBy(col("label").as("c_label"))
      .agg(vecsum(col("embedding")).as("vsum"), count(col("embedding")).as("n"))
      .select(col("c_label"),
        transform(col("vsum"), x => x.cast("double") / (col("n") * 100)).as("cvec"))
      .agg(array_sort(collect_list(struct(col("c_label"), col("cvec")))).as("cents"))
  }

  /** TWO-LEVEL coarse quantizer (the hierarchical IVF assignment the
    * ss28 scale analysis calls for at 100 TB): top-level centroids
    * are trained on a SAMPLE (md5-derived 1-in-`sampleMod`, sp01's
    * hash discipline — training cost is sampled, pay-once), each top
    * cell is refined by `subK` sub-centroids (means of the sample's
    * hash-split members, cell-LOCAL — one sample-sized agg), and the
    * full corpus assigns in two broadcast-argmin stages: k1
    * comparisons against the top array, then k2 against only its OWN
    * cell's sub-centroids (a broadcast equi-join on cell1 — k1·k2
    * tiny rows). Per-vector assignment cost is k1 + k2, not k1·k2 —
    * the flat-quantizer k×n×d term that dominated the one-level IVF
    * build becomes √k + √k per vector with k1 = k2 = √k. Zero corpus
    * shuffles end to end. A top cell whose sub-centroid set is empty
    * (no sample member won it) reports cell2 = -1 — unrefined, loud
    * in the output rather than silently dropped. Returns (vec_id,
    * cell1, cell2). */
  private[graft] def hierAssignOf(e: DataFrame, subK: Int,
                                  sampleMod: Int): DataFrame = {
    def nibAt(p: Int): Column =
      conv(substring(md5(col("vec_id").cast("string")), p, 1), 16, 10).cast("int")
    val sample = e.filter(nibAt(6) % sampleMod === 0)
    val topCents = centroidArray(sample)
    def assign1(df: DataFrame): DataFrame = df.crossJoin(broadcast(topCents))
      .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
      col("embedding"), col("cents"), "cvec", "c_label"))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell1"))
    val sampleAssigned = assign1(sample)
      .withColumn("sub", (nibAt(7) % subK).cast("int"))
    // dense-buffer sub-centroid means (the centroidArray rework): one
    // VectorSumAgg buffer per (cell1, sub) instead of dim exploded
    // rows per sample vector; same quantized-long sums and divisor,
    // and the svec array is the buffer itself — no per-pos rollup
    val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
    val svecs = sampleAssigned
      .groupBy(col("cell1"), col("sub"))
      .agg(vecsum(col("embedding")).as("vsum"), count(col("embedding")).as("n"))
      .select(col("cell1"), col("sub"),
        transform(col("vsum"), x => x.cast("double") / (col("n") * 100)).as("svec"))
      .groupBy(col("cell1"))
      .agg(array_sort(collect_list(struct(col("sub"), col("svec")))).as("subs"))
    assign1(e).join(broadcast(svecs), Seq("cell1"), "left")
      .withColumn("b2", graft.functions.VectorFunctions.cellArgmin(
        col("embedding"), col("subs"), "svec", "sub", "d2", "sub"))
      .select(col("vec_id"), col("cell1"),
        coalesce(col("b2.sub"), lit(-1)).cast("int").as("cell2"))
  }

  /** ss12's incremental-ANN index over the OLD corpus: label-seeded
    * coarse centroids, then each cell refined into n_old/640
    * sub-quantizer regions — sub-centroids are the means of md5
    * splits of the cell's own members (ONE dense-buffer VectorSumAgg
    * pass over the index — the pay-once build cost a serving
    * deployment stores via annIndexBuild), and every index vector is
    * assigned by ARGMIN over its cell's sub-centroids (semantic
    * Voronoi refinement, not random blocking: near vectors
    * co-assign). Probe blocks therefore stay constant-sized at every
    * index scale. Inert below 640 vectors (GREATEST(1, ·) — one sub
    * per cell = the unrefined plan). */
  private[graft] case class IncAnnIndex(cents: DataFrame, svecs: DataFrame,
                                        oldCells: DataFrame)

  private[graft] def incAnnIndex(old: DataFrame): IncAnnIndex = {
    val cents = centroidArray(old)
    val n1 = old.agg(count(lit(1)).as("n_old"))
    val oldA = assignCells(old, cents).localCheckpoint(false)
    val vecsum = org.apache.spark.sql.functions.udaf(graft.functions.VectorSumAgg)
    val svecs = oldA.crossJoin(broadcast(n1))
      .withColumn("hsub",
        pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 5), 16, 10)
            .cast("long"),
          greatest(lit(1L), floor(col("n_old") / 640).cast("long"))).cast("int"))
      .groupBy(col("cell"), col("hsub"))
      .agg(vecsum(col("embedding")).as("vsum"), count(col("embedding")).as("n"))
      .select(col("cell"), col("hsub"),
        transform(col("vsum"), x => x.cast("double") / (col("n") * 100)).as("svec"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("hsub"), col("svec")))).as("subs"))
    val oldCells = refineSub(oldA, svecs)
      .select(col("cell"), col("sub"), col("vec_id").as("old_id"),
        col("embedding").as("old_emb"))
    IncAnnIndex(cents, svecs, oldCells)
  }

  private def assignCells(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
        col("embedding"), col("cents"), "cvec", "c_label"))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))

  private def refineSub(df: DataFrame, svecs: DataFrame): DataFrame =
    df.join(broadcast(svecs), "cell")
      .withColumn("b2", graft.functions.VectorFunctions.cellArgmin(
        col("embedding"), col("subs"), "svec", "hsub", "d2", "sub"))
      .select(col("vec_id"), col("embedding"), col("cell"), col("b2.sub").as("sub"))

  /** ss12's probe: arrivals pay ~(|cells| + m) argmin comparisons
    * each, then join ONLY their (cell, sub) block — cost scales with
    * the increment, never the index. Unhinted join: a day's arrivals
    * are corpus-shaped, not bounded — AQE broadcasts when small. */
  private[graft] def incAnnProbe(idx: IncAnnIndex, fresh: DataFrame): DataFrame = {
    val freshAssigned = refineSub(assignCells(fresh, idx.cents), idx.svecs)
      .select(col("cell"), col("sub"), col("vec_id"), col("embedding").as("new_emb"))
    idx.oldCells.join(freshAssigned, Seq("cell", "sub"))
      .withColumn("nn_cos", cosine(col("new_emb"), col("old_emb")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(max(struct(col("nn_cos"), (-col("old_id")).as("neg_id"))).as("m"))
      .select(col("vec_id"), col("cell"),
        (-col("m.neg_id")).as("nn_vec_id"), col("m.nn_cos").as("nn_cos"))
  }

  /** Corpus-scaled hash blocking for [[knnGraphBlocked]]: cell =
    * md5(vec_id) mod (n / targetCellSize), the cell count derived
    * IN-PLAN from a 1-row count broadcast — cell SIZE stays constant
    * as the corpus grows, so the within-cell pair count is
    * corpus-linear at every scale (the IVF "cells ∝ n" sizing rule;
    * a fixed cell count grows pairs quadratically — measured 132x at
    * a 64x blowup before this form). md5-derived so the DuckDB
    * oracle re-derives identical cells nibble by nibble. */
  private[graft] def hashCells(e: DataFrame, targetCellSize: Int): DataFrame = {
    val n1 = e.agg(count(lit(1)).as("n_corpus"))
    e.crossJoin(broadcast(n1))
      .select(col("vec_id"), col("embedding"),
        pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 5), 16, 10)
            .cast("long"),
          greatest(lit(1L),
            floor(col("n_corpus") / targetCellSize).cast("long")))
          .cast("int").as("cell"))
  }

  /** The blocked k-NN GRAPH core over any (vec_id, embedding, cell)
    * frame — candidates are CELL-MATES only (the caller bounds cell
    * sizes: [[hashCells]] scales the count ∝ corpus, kmeansTrain
    * centroids at k≈√n are the trained alternative; ss26's audit
    * measures the balance either way). ONE cell equi-join
    * (cell-partitioned at 100 TB — each cell joins only itself), and
    * the per-vector top-k is a literal-limit rank window Catalyst
    * plans as a partial WindowGroupLimit before the vec_id shuffle
    * (≤k rows per vector cross the wire). */
  private[graft] def knnGraphBlocked(assigned: DataFrame, k: Int): DataFrame = {
    val nbrs = assigned.select(col("cell"),
      col("vec_id").as("nbr_id"), col("embedding").as("nbr_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    assigned.join(nbrs, "cell")
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("cell"), col("nbr_id"),
        cosine(col("embedding"), col("nbr_emb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("cell"), col("rank"), col("nbr_id"), col("cos_sim"))
  }

  /** Label/centroid-seeded k-NN graph over a (vec_id, embedding,
    * label) frame — [[graft.api]]'s `knnGraph` verb: one centroid
    * pass + per-row broadcast-argmin assignment (lazily
    * localCheckpoint'ed — BOTH join sides read it, blocks release on
    * GC), then the [[knnGraphBlocked]] core. The label domain must
    * scale with the corpus for the pair join to stay linear
    * (kmeansTrain at k≈√n, or [[hashCells]] when no trained cells
    * exist — the registered ss28 form). */
  private[graft] def knnGraphOf(e: DataFrame, k: Int = 3): DataFrame = {
    val cents = centroidArray(e)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("best", graft.functions.VectorFunctions.cellArgmin(
      col("embedding"), col("cents"), "cvec", "c_label"))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"))
      .localCheckpoint(false)
    knnGraphBlocked(assigned, k)
  }

  /** ss29's whole pipeline over any (vec_id, embedding) corpus and a
    * (q_id, q_emb) query batch — the MMR rerank kernel shared by the
    * batch query and [[graft.api]]'s `mmrTopK` verb. Exact-cosine
    * top-`shortlist` per query, then `k` greedy MMR picks at λ=1/2:
    * argmax of λ·rel − (1−λ)·max_sim ≡ argmax of (rel − penalty), so
    * the score stays pure integer milli (both engines floor identical
    * doubles) and ties break (score desc, vec_id). The k steps unroll
    * into plan stages over SHORTLIST-sized frames; the corpus appears
    * once — in the shortlist scan against the broadcast batch, its
    * per-query top-N a partial WindowGroupLimit (ss08/ss25's shape). */
  private[graft] def mmrDiversify(corpus: DataFrame, queries: DataFrame,
                                  shortlist: Int, k: Int,
                                  excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // self-exclusion assumes queries share the corpus id space (the
    // ss29 form); external-id batches pass excludeSelf = false so a
    // coincidental id collision cannot drop an unrelated vector
    val scanned = if (excludeSelf)
      corpus.crossJoin(broadcast(queries)).filter(col("vec_id") =!= col("q_id"))
    else corpus.crossJoin(broadcast(queries))
    val short = scanned
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(wCos)).filter(col("rn") <= shortlist)
      .select(col("q_id"), col("vec_id"),
        floor(col("cos") * 1000).cast("long").as("rel_milli"), col("embedding"))
    // r13: the greedy loop runs IN-ROW ([[graft.plans.MmrPicksExpr]]).
    // Selection is per-query over a construction-bounded shortlist, so
    // the former unrolled form — a shortlist² pairwise-cosine join,
    // then per pick an anti-join + penalty join/agg + rank window +
    // EAGER localCheckpoint (the nesting guard) — was ~5 driver-
    // synchronized job chains over |Q|·shortlist-row frames. Collect
    // the query's candidates (the group-by rides the shortlist
    // window's q_id partitioning — no new exchange) and pick greedily
    // in one call, score math and tie-breaks replicated exactly (the
    // kernel's scaladoc states the equivalences; ApiSpec pins
    // kernel == composed including the null algebra).
    val cands = short.groupBy(col("q_id"))
      .agg(collect_list(struct(col("vec_id"), col("rel_milli"), col("embedding"))).as("cands"))
    cands.select(col("q_id"),
        explode(org.apache.spark.sql.graft.bridge.column(graft.plans.MmrPicksExpr(
          org.apache.spark.sql.graft.bridge.expression(col("cands")), k))).as("p"))
      .select(col("q_id"), col("p.vec_id").as("vec_id"),
        col("p.rel_milli").as("rel_milli"), col("p.mmr_milli").as("mmr_milli"),
        col("p.pick").as("pick"))
  }

  /** Iteration-bounded label propagation over a directed edge frame
    * (vec_id, nbr_id) from a seed label set — ss31's kernel, shared
    * with [[graft.api]]'s `labelPropagate` verb. Each round labels
    * currently-UNLABELED nodes by the majority label of their
    * already-labeled out-neighbors (votes desc, smallest label on
    * ties — integer-exact in both engines); newly labeled nodes vote
    * in later rounds. Per round: one edge-sized equi-join, one
    * anti-join against the labeled set, one map-side-combinable
    * majority agg — all keyed on high-cardinality node ids. Rounds
    * are a fixed plan unroll (bounded depth), not a driver loop.
    * Returns (vec_id, label, round) — round 0 = seed. */
  private[graft] def labelPropagate(edges: DataFrame, seeds: DataFrame,
                                    rounds: Int): DataFrame = {
    // lazy localCheckpoints (blocks release on GC — GroupPrefix's
    // lifecycle discipline): the edge frame feeds 2 joins per round
    // and each round's label set feeds 3 consumers in the next, so
    // without truncation the unrolled plan re-derives the knn graph
    // once per consumer (the dd06 loop rule)
    val es = edges.localCheckpoint(false)
    var labels = seeds.select(col("vec_id"), col("label"), lit(0).as("round"))
      .localCheckpoint(false)
    (1 to rounds).foreach { r =>
      val newly = es
        .join(labels.select(col("vec_id").as("nbr_id"), col("label")), "nbr_id")
        .join(labels.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .groupBy(col("vec_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("votes"), (-col("label")).as("neg_label"))).as("m"))
        .select(col("vec_id"), (-col("m.neg_label")).as("label"), lit(r).as("round"))
      labels = labels.unionByName(newly).localCheckpoint(false)
    }
    labels
  }

  /** Iteration-bounded integer PageRank — the ss33 kernel shared with
    * [[graft.api]]'s `pagerank` verb. `edges` = directed (vec_id →
    * nbr_id). Ranks in integer MICRO units: r₀ = 1,000,000; each
    * round r' = 150,000 + 850·(Σ r_src DIV outdeg_src) DIV 1000 —
    * flooring integer ops both engines compute identically (damping
    * 0.15/0.85 in the standard parameterization). Nodes = edge
    * sources ∪ destinations: SINK-only nodes (no out-edges — absent
    * from a knn graph, legitimate in arbitrary edge lists the public
    * verb accepts) hold rank rows and accumulate inflow but emit
    * nothing; their rank mass is NOT redistributed (the standard
    * no-dangling-redistribution simplification, documented — on an
    * out-edge-complete graph like ss33's the union is a no-op and
    * the result is unchanged). No-inflow nodes hold the 150,000
    * base. Per round: one edge-sized id-keyed join + one
    * map-side-combinable inflow agg + a node-sized left join —
    * edge-linear, lineage truncated per round (the dd06 loop
    * rule). */
  private[graft] def pagerankOf(edges: DataFrame, rounds: Int): DataFrame = {
    // checkpoint the INPUT once: `out` and `ed` both read it, and for
    // ss33 the edges plan is the whole blocked-knn graph build — the
    // query's dominant cost must not execute twice
    val es = edges.localCheckpoint(false)
    val out = es.groupBy(col("vec_id")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val ed = es.join(out, "vec_id")
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"), col("outdeg"))
      .localCheckpoint(false)
    // node set = sources ∪ destinations, so sink-only nodes get rank
    // rows instead of silently discarding the inflow computed to them
    // every round (checkpointed: it anchors rounds+1 left joins)
    val nodes = out.select(col("vec_id"))
      .union(es.select(col("nbr_id").as("vec_id")))
      .distinct()
      .localCheckpoint(false)
    var ranks = nodes.select(col("vec_id"), lit(1000000L).as("r"))
    (1 to rounds).foreach { _ =>
      val contrib = ed.join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("r DIV outdeg")).as("inflow"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr("150000 + 850 * coalesce(inflow, 0L) DIV 1000").as("r"))
        .localCheckpoint(false)
    }
    ranks.select(col("vec_id"), col("r").as("rank_micro"))
  }

  /** The ss28 graph as a shared oracle CTE body (`ranked` = every
    * within-cell pair with its per-vector rank): reused verbatim by
    * ss28's own oracle and ss31's propagation oracle, so the two can
    * never disagree about the graph. */
  private def Ss28GraphCte: String =
    """n AS (SELECT count(*) AS n_corpus FROM embeddings),
      |cells AS (
      | SELECT vec_id, embedding,
      |  CAST(((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 65536
      |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 4096
      |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 256
      |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1) * 16
      |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 5, 1)) - 1))
      |    % GREATEST(1, n_corpus // 64) AS INT) AS cell
      | FROM embeddings CROSS JOIN n),
      |pairs AS (
      | SELECT a.vec_id, a.cell, b.vec_id AS nbr_id,
      |  list_sum(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |   / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |      * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
      | FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |ranked AS (
      | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rank
      | FROM pairs)""".stripMargin

  private def subIdxCol: Column = sequence(lit(0), lit(NumSub - 1))
  private def subSlice(v: Column, m: Column): Column =
    slice(v, m * lit(SubDim) + lit(1), lit(SubDim))

  /** (dist2, cell) structs of `v` against every centroid in the
    * broadcast `cents` array column — array_min of this is the argmin
    * cell, array_sort.slice(1, n) the nprobe probe list. */
  private def cellStructsOf(v: Column): Column =
    transform(col("cents"),
      c => struct(l2distSq(v, c.getField("cvec")).as("dist2"),
                  c.getField("c_label").as("cell")))

  /** Build the IVF-PQ serving index over a (vec_id, embedding, label)
    * frame: returns (cents, cb, coded) — the cached single-row
    * centroid frame, the codebook derived FROM it (pqSeed's shape
    * without recomputing the centroid pipeline), and the index rows
    * (vec_id, cell, embedding, cidx) with each vector's cell and
    * precomputed PQ code indices. Built ONCE; at 100 TB `coded` is
    * stored cell-partitioned with codes RAM-resident (see
    * [[graft.streaming.TopicStream.annIndexBuild]] for the persisted
    * form). */
  private[graft] def ivfpqIndex(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cents = centroidArray(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = cents.select(
      transform(subIdxCol, m =>
        transform(col("cents"), c =>
          struct(c.getField("c_label").as("code"),
                 subSlice(c.getField("cvec"), m).as("svec")))).as("cb"))
    val coded = ivfpqEncode(e, cents, cb)
      .select(col("vec_id"), col("cell"), col("embedding"), col("cidx"))
    (cents, cb, coded)
  }

  /** Assign cells + PQ-encode a vector frame against FROZEN (cents,
    * cb) frames: adds `cell` and `cidx` (keeps every input column).
    * Broadcast argmin over one-row frames — zero shuffle; cost tracks
    * the frame, never the corpus. The index-build AND the arrival
    * paths ([[graft.streaming.TopicStream.annIndexStream]]) share
    * this kernel, so an appended vector encodes exactly as a built
    * one would. */
  private[graft] def ivfpqEncode(vecs: DataFrame, cents: DataFrame,
                                 cb: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents)).crossJoin(broadcast(cb))
      .withColumn("cell", graft.functions.VectorFunctions.cellArgmin(
      col("embedding"), col("cents"), "cvec", "c_label").getField("cell"))
      .withColumn("cidx", pqArgminIdx(col("embedding"), col("cb"), SubDim))
      .drop("cents", "cb")

  /** Probe an IVF-PQ index with a query frame (q_id, q_emb): each
    * query derives its `nprobe` nearest cells + one ADC LUT, the
    * WHOLE batch broadcasts, the probe join touches only probed
    * cells' codes, scoring is a LUT gather + ordered fold, and exact
    * cosine reranks each query's ADC top-`shortlist` to top-`k`.
    * Returns (q_id, vec_id, cell, adc, cos_exact, rank). Cost ∝
    * batch x nprobe x cell size — the corpus enters via cell size
    * only. `excludeSelf` drops vec_id == q_id candidates (audit runs
    * that query the corpus against itself). */
  private[graft] def ivfpqProbe(coded: DataFrame, cents: DataFrame, cb: DataFrame,
                                queries: DataFrame, nprobe: Int, shortlist: Int,
                                k: Int, excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qlut = queries.crossJoin(broadcast(cents)).crossJoin(broadcast(cb))
      .withColumn("lut", transform(subIdxCol, m =>
        transform(element_at(col("cb"), m + 1), cw =>
          l2distSq(subSlice(col("q_emb"), m), cw.getField("svec")))))
      .select(col("q_id"), col("q_emb"),
        explode(slice(array_sort(cellStructsOf(col("q_emb"))), 1, nprobe)
          .getField("cell")).as("q_cell"),
        col("lut"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id"))
    val wCos = Window.partitionBy(col("q_id")).orderBy(col("cos_exact").desc, col("vec_id"))
    val cand = coded.join(broadcast(qlut), col("cell") === col("q_cell"))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("q_id")) else cand)
      .withColumn("adc", adcSum(col("lut"), col("cidx")))
      .withColumn("short", row_number().over(wAdc))
      .filter(col("short") <= shortlist)
      .withColumn("cos_exact", cosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wCos).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"), col("adc"),
        col("cos_exact"), col("rank"))
  }

  // ss24 residual PQ: codewords live in residual space (vector − cell
  // centroid), whose spread is much tighter than raw space — the
  // FAISS IVFADC design. Residuals are small, so their quantized-long
  // arithmetic uses milli grain (raw centroids use centi).
  private val ResGrain = 1000
  private val ResCodes = 10L

  /** [[cellStructsOf]] that also carries the centroid vector — the
    * residual paths need (dist2, cell, cvec) so the argmin and the
    * probe can subtract the winning centroid without a second cents
    * lookup. The struct-min is decided by (dist2, cell) — already
    * unique — before the trailing array field. */
  private def cellFullStructsOf(v: Column): Column =
    transform(col("cents"),
      c => struct(l2distSq(v, c.getField("cvec")).as("dist2"),
                  c.getField("c_label").as("cell"),
                  c.getField("cvec").as("cvec")))

  private def residual(v: Column, cv: Column): Column =
    zip_with(v, cv, (x, c) => x.cast("double") - c)

  /** Seed per-subspace codebooks for RESIDUAL vectors. Label
    * centroids can't seed here — residuals of a cell's members
    * average ~0, so every label-seeded codeword would collapse to the
    * origin and Lloyd would degenerate to one survivor. Instead the
    * seed groups residuals by the deterministic spread key
    * `vec_id % ResCodes` (uncorrelated with residual direction, so
    * the ResCodes seed means differ and attract distinct Voronoi
    * cells), with exact milli-quantized-long means — engine-exact,
    * same shape as [[pqSeed]]'s (code, svec) frame. */
  private[graft] def resSeed(res: DataFrame): DataFrame = {
    // Dense-buffer seed means (same rework as pqIterate): one
    // dim-long buffer per seed code on the wire instead of dim
    // exploded rows per vector; floor(x*ResGrain+0.5) integer sums and
    // the same count divisor keep the means bit-identical.
    val vsum = org.apache.spark.sql.functions.udaf(
      new graft.functions.VectorSumAggScaled(ResGrain))
    res.select((col("vec_id") % ResCodes).as("code"),
        col("embedding").cast("array<double>").as("v"))
      .groupBy(col("code"))
      .agg(vsum(col("v")).as("vs"), count(col("v")).as("n"))
      .select(col("code"),
        transform(col("vs"), x => x.cast("double") / (col("n") * ResGrain)).as("rvec"))
      .agg(array_sort(collect_list(struct(col("code"), col("rvec")))).as("rcents"))
      .select(transform(subIdxCol, m =>
        transform(col("rcents"), c =>
          struct(c.getField("code").as("code"),
                 subSlice(c.getField("rvec"), m).as("svec")))).as("cb"))
  }

  /** Build the RESIDUAL-encoded IVF-PQ index (FAISS IVFADC): the same
    * coarse quantizer as [[ivfpqIndex]], but PQ codebooks are trained
    * (2 Lloyd iterations, [[pqIterate]] on residual slices) and codes
    * assigned on (vector − cell centroid) RESIDUALS, cutting
    * quantization error inside each cell — residual spread is what's
    * left AFTER the coarse quantizer explains the cell mean. Returns
    * (cents, rcb, coded) with coded = (vec_id, cell, embedding,
    * cidx); same topology as ivfpqIndex: training's only exchange is
    * the NumSub×K×SubDim partial-agg per iteration, everything else
    * is broadcast-side. */
  /** The frames a residual index is made of, plus `release` — the
    * build path ([[graft.streaming.TopicStream.annIndexBuild]]) runs
    * in a long-lived session and must drop the training caches once
    * the index topics are written; the query path just lets the
    * bench's clearCache handle it. */
  private[graft] final case class ResidualIndex(cents: DataFrame, rcb: DataFrame,
                                                coded: DataFrame, release: () => Unit)

  private[graft] def ivfpqResidualIndex(e: DataFrame): ResidualIndex = {
    val cents = centroidArray(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = e.crossJoin(broadcast(cents))
      .withColumn("best", array_min(cellFullStructsOf(col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("best.cell").as("cell"),
        residual(col("embedding"), col("best.cvec")).as("res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resAsEmb = res.select(col("vec_id"), col("res").as("embedding"))
    // persist the trained codebook: unlike ivfpqIndex's cb (a cheap
    // projection of the persisted cents), rcb's lineage is the whole
    // 2-iteration training chain — without the persist it would
    // re-train once for the encode and once per probe LUT
    val rcb = pqIterateDense(resAsEmb,
        pqIterateDense(resAsEmb, resSeed(resAsEmb), ResGrain), ResGrain)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coded = res.crossJoin(broadcast(rcb))
      .withColumn("cidx", pqArgminIdx(col("res"), col("cb"), SubDim))
      .select(col("vec_id"), col("cell"), col("embedding"), col("cidx"))
    ResidualIndex(cents, rcb, coded,
      () => { cents.unpersist(); res.unpersist(); rcb.unpersist(); () })
  }

  /** Residual-encode an ARRIVING vector frame against FROZEN (cents,
    * rcb) frames — [[ivfpqEncode]]'s twin for residual indexes: adds
    * `cell` and `cidx` (keeps every input column), broadcast argmin
    * only, zero shuffle; the index-grow stream
    * ([[graft.streaming.TopicStream.annIndexStream]]) shares this
    * kernel so an appended vector encodes exactly as a built one. */
  private[graft] def ivfpqResidualEncode(vecs: DataFrame, cents: DataFrame,
                                         rcb: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents)).crossJoin(broadcast(rcb))
      .withColumn("best", array_min(cellFullStructsOf(col("embedding"))))
      .withColumn("cell", col("best.cell"))
      .withColumn("_res", residual(col("embedding"), col("best.cvec")))
      .withColumn("cidx", pqArgminIdx(col("_res"), col("cb"), SubDim))
      .drop("cents", "cb", "best", "_res")

  /** Probe a residual IVF-PQ index: identical batch discipline to
    * [[ivfpqProbe]] — per-query probe cells + broadcast LUTs, probe
    * join touches only probed cells' codes — except the LUT is per
    * (query, probed CELL): the query's residual against that cell's
    * centroid scores against the residual codebook, matching how each
    * candidate's codes were assigned (candidate residuals are
    * relative to their own cell). nprobe LUTs per query instead of
    * one — a few KB more broadcast, same join shape. */
  private[graft] def ivfpqResidualProbe(coded: DataFrame, cents: DataFrame,
                                        rcb: DataFrame, queries: DataFrame,
                                        nprobe: Int, shortlist: Int, k: Int,
                                        excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qlut = queries.crossJoin(broadcast(cents)).crossJoin(broadcast(rcb))
      .select(col("q_id"), col("q_emb"), col("cb"),
        explode(slice(array_sort(cellFullStructsOf(col("q_emb"))), 1, nprobe)).as("pc"))
      .withColumn("q_res", residual(col("q_emb"), col("pc").getField("cvec")))
      .select(col("q_id"), col("q_emb"), col("pc").getField("cell").as("q_cell"),
        transform(subIdxCol, m =>
          transform(element_at(col("cb"), m + 1), cw =>
            l2distSq(subSlice(col("q_res"), m), cw.getField("svec")))).as("lut"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id"))
    val wCos = Window.partitionBy(col("q_id")).orderBy(col("cos_exact").desc, col("vec_id"))
    val cand = coded.join(broadcast(qlut), col("cell") === col("q_cell"))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("q_id")) else cand)
      .withColumn("adc", adcSum(col("lut"), col("cidx")))
      .withColumn("short", row_number().over(wAdc))
      .filter(col("short") <= shortlist)
      .withColumn("cos_exact", cosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wCos).cast("int"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"), col("adc"),
        col("cos_exact"), col("rank"))
  }

  /** Seed per-subspace PQ codebooks from the label centroids: a
    * single-row frame with `cb` = array over subspace m of the
    * code-sorted array of struct(code, svec) — svec the m-th SubDim
    * slice of each label centroid. Deterministic and engine-exact
    * (inherits [[centroidArray]]'s quantized-long arithmetic). */
  private[graft] def pqSeed(e: DataFrame): DataFrame =
    centroidArray(e).select(
      transform(subIdxCol, m =>
        transform(col("cents"), c =>
          struct(c.getField("c_label").as("code"),
                 subSlice(c.getField("cvec"), m).as("svec")))).as("cb"))

  /** One Lloyd iteration over every subspace at once: assign each
    * vector's m-th slice to its nearest codeword (struct-min tie-broken
    * on (d2, code) — the ss03/ss09 argmin), then recompute each
    * codeword as the exact quantized-long mean of its assigned slices.
    * The only exchange is the partial-agg'd (m, code, pos) sum —
    * NumSub*K*SubDim groups regardless of corpus size. Codewords that
    * attract no vectors drop out (both engines agree: empty groups
    * don't exist). */
  // NOTE (r13 optimization pass): a dense-buffer rework of this
  // recompute (fold each assigned slice via a scaled typed aggregator,
  // one SubDim buffer per (m, code)) was built and MEASURED
  // equal-to-slightly-worse warm (~2.3 s/pass both forms at sf0.1)
  // with a cold-JVM codegen penalty — at SubDim=8 the explode factor
  // the aggregator removes is too small to beat the codegen'd
  // scalar hash-agg over FLOAT inputs. Kept exploded here;
  // [[pqIterateDense]] is the measured winner for the residual path
  // (double-typed inputs skip the per-element cast) and resSeed
  // (full-dim explode, 64x) won outright from the same rework.
  private[graft] def pqIterate(e: DataFrame, cb: DataFrame,
                               grain: Int = 100): DataFrame =
    e.crossJoin(broadcast(cb))
      .select(col("embedding"),
        pqArgminCode(col("embedding"), col("cb"), SubDim).as("codes"))
      .select(col("embedding"), posexplode(col("codes")))
      .select(col("pos").as("m"), col("col").as("code"), col("embedding"))
      .select(col("m"), col("code"),
        posexplode(subSlice(col("embedding"), col("m"))))
      .select(col("m"), col("code"), col("pos"),
        floor(col("col").cast("double") * grain + 0.5).cast("long").as("vq"))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("vq")).cast("double") / (count(lit(1)) * grain)).as("v"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        st => st.getField("v")).as("svec"))
      .groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("code"), col("svec")))).as("cbm"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cbm")))),
        st => st.getField("cbm")).as("cb"))

  /** [[pqIterate]]'s dense-buffer twin for DOUBLE-typed vectors (the
    * residual training path): same assign step, but each assigned
    * slice folds through the scaled typed aggregator into one
    * SubDim-long buffer per (m, code) — the explode shrinks
    * NumSub x SubDim -> NumSub rows per vector. Arithmetic is
    * BIT-IDENTICAL to pqIterate (floor(x*grain+0.5) longs, order-free
    * integer sum, same count divisor, same IEEE division). */
  private[graft] def pqIterateDense(e: DataFrame, cb: DataFrame,
                                    grain: Int): DataFrame = {
    val vsum = org.apache.spark.sql.functions.udaf(
      new graft.functions.VectorSumAggScaled(grain))
    e.crossJoin(broadcast(cb))
      .select(col("embedding"),
        pqArgminCode(col("embedding"), col("cb"), SubDim).as("codes"))
      .select(col("embedding"), posexplode(col("codes")))
      .select(col("pos").as("m"), col("col").as("code"),
        subSlice(col("embedding"), col("pos")).as("sl"))
      .groupBy(col("m"), col("code"))
      .agg(vsum(col("sl")).as("vs"), count(col("sl")).as("n"))
      .select(col("m"), col("code"),
        transform(col("vs"), x => x.cast("double") / (col("n") * grain)).as("svec"))
      .groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("code"), col("svec")))).as("cbm"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cbm")))),
        st => st.getField("cbm")).as("cb"))
  }

  /** Encode rows against a FROZEN broadcast codebook: adds `codes`
    * (the '-'-joined per-subspace codeword labels) and `recon_d2`
    * (the summed per-subspace quantization error — the PQ
    * reconstruction-quality audit). Keeps all input columns; zero
    * shuffle. */
  private[graft] def pqEncode(df: DataFrame, cb: DataFrame): DataFrame =
    df.crossJoin(broadcast(cb))
      .withColumn("subbest", pqArgminFull(col("embedding"), col("cb"), SubDim))
      .withColumn("codes", concat_ws("-",
        transform(col("subbest"), b => b.getField("code").cast("string"))))
      .withColumn("recon_d2", aggregate(
        transform(col("subbest"), b => b.getField("d2")),
        lit(0.0), (acc, x) => acc + x))
      .drop("subbest", "cb")

  /** PQ LUT-ADC search against codebook frame `cb` (see ss13 notes):
    * the query's distance to every codeword (NumSub x K doubles)
    * computes ONCE in the single-row broadcast frame; each fact row
    * does an argmin encode plus NumSub LUT lookups — no per-row
    * query-side recompute, zero fact shuffle. Top-20 by (adc, vec_id)
    * via TakeOrdered, exact-cosine rerank to 10. */
  private[graft] def pqSearch(e: DataFrame, cb: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") === QueryId).select(col("embedding").as("q_emb"))
    val qlut = cb.crossJoin(q)
      .withColumn("lut", transform(subIdxCol, m =>
        transform(element_at(col("cb"), m + 1), cw =>
          l2distSq(subSlice(col("q_emb"), m), cw.getField("svec")))))
    e.crossJoin(broadcast(qlut))
      .withColumn("subbest", pqArgminFull(col("embedding"), col("cb"), SubDim))
      .withColumn("codes", concat_ws("-",
        transform(col("subbest"), b => b.getField("code").cast("string"))))
      .withColumn("adc", adcSum(col("lut"),
        transform(col("subbest"), b => b.getField("idx"))))
      .orderBy(col("adc").asc, col("vec_id")).limit(20)
      .withColumn("cos_exact", cosine(col("embedding"), col("q_emb")))
      .select(col("vec_id"), col("codes"), col("adc"), col("cos_exact"))
      .orderBy(col("cos_exact").desc, col("vec_id")).limit(10)
  }

  // ---- (defs continued in map above) ----
  // ---- oracle SQL (plane constants embedded as literals) ----

  private def sqlList(v: Seq[Double]): String = v.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  private val dotQ =
    "list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))"
  private def norm(x: String): String =
    s"sqrt(list_sum(list_transform($x, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"

  val oracle: Map[String, String] = Map(
    "ss04_centroid_agg" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
        |SELECT ex.label, n.n, CAST(ex.pos AS INT) AS pos,
        | CAST(sum(vq) AS BIGINT) AS sum_c,
        | CAST(sum(vq) AS DOUBLE) / n.n AS centroid_c
        |FROM ex JOIN n ON ex.label = n.label
        |GROUP BY ex.label, n.n, ex.pos
        |ORDER BY ex.label, pos""".stripMargin,

    "ss01_brute_topk" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QueryId)
         |SELECT e.vec_id,
         | $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim
         |FROM embeddings e, q
         |ORDER BY cos_sim DESC, vec_id LIMIT 50""".stripMargin,
    "ss02_lsh_ann" -> {
      val planeCols = planes.indices.map(h => s"${sqlList(planes(h))} AS p$h").mkString(", ")
      val bucketExpr = planes.indices.map(h =>
        s"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * p$h[i])) > 0 THEN ${1 << h} ELSE 0 END)"
      ).mkString(" + ")
      s"""WITH p AS (SELECT $planeCols),
         |b AS (SELECT vec_id, embedding, CAST($bucketExpr AS INT) AS bucket FROM embeddings, p),
         |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = $QueryId)
         |SELECT e.vec_id, e.bucket,
         | $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim
         |FROM b e, q WHERE e.bucket = q.q_bucket
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },
    "ss08_batch_ann" -> {
      val planeCols = planes.indices.map(h => s"${sqlList(planes(h))} AS p$h").mkString(", ")
      val bucketExpr = planes.indices.map(h =>
        s"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * p$h[i])) > 0 THEN ${1 << h} ELSE 0 END)"
      ).mkString(" + ")
      s"""WITH p AS (SELECT $planeCols),
         |b AS (SELECT vec_id, embedding, CAST($bucketExpr AS INT) AS bucket FROM embeddings, p),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM b WHERE vec_id % 50 = 7),
         |cand AS (
         | SELECT q.q_id, e.vec_id,
         |  $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim
         | FROM b e JOIN q USING (bucket) WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
         |      FROM cand)
         |SELECT q_id, vec_id, cos_sim, rank FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    },
    "ss07_lsh_multitable" -> {
      val p32 = planesN(32)
      val planeCols = p32.indices.map(h => s"${sqlList(p32(h))} AS p$h").mkString(", ")
      val tableExprs = (0 until 4).map { t =>
        val bits = (0 until 8).map { j =>
          val h = t * 8 + j
          s"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * p$h[i])) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"CAST($bits AS INT) AS b$t"
      }.mkString(", ")
      s"""WITH p AS (SELECT $planeCols),
         |b AS (SELECT vec_id, embedding, $tableExprs FROM embeddings, p),
         |q AS (SELECT embedding AS q_emb, b0 AS qb0, b1 AS qb1, b2 AS qb2, b3 AS qb3
         |      FROM b WHERE vec_id = $QueryId)
         |SELECT e.vec_id,
         | $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim
         |FROM b e, q
         |WHERE e.b0 = q.qb0 OR e.b1 = q.qb1 OR e.b2 = q.qb2 OR e.b3 = q.qb3
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },
    "ss05_ivf_probe" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |q AS (SELECT embedding AS q_emb, cell AS q_cell FROM cells WHERE vec_id = $QueryId)
        |SELECT e.vec_id, e.cell,
        | list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        |FROM cells e, q WHERE e.cell = q.q_cell
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "ss12_incremental_ann" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings WHERE vec_id % 5 != 0),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |old_c AS (SELECT * FROM cells WHERE vec_id % 5 != 0),
        |fr AS (SELECT * FROM cells WHERE vec_id % 5 = 0),
        |no AS (SELECT count(*) AS n_old FROM old_c),
        |hs AS (
        | SELECT vec_id, embedding, cell,
        |  CAST(((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 65536
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 5, 1)) - 1))
        |    % GREATEST(1, (SELECT n_old FROM no) // 640) AS INT) AS hsub
        | FROM old_c),
        |sx AS (
        | SELECT cell, hsub, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM hs),
        |scen AS (
        | SELECT cell, hsub, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM sx GROUP BY 1, 2, 3),
        |svecs AS (SELECT cell, hsub, list(c ORDER BY pos) AS svec FROM scen GROUP BY 1, 2),
        |old_r AS (
        | SELECT vec_id, embedding, cell, hsub AS sub FROM (
        |  SELECT o.vec_id, o.embedding, o.cell, sv.hsub,
        |   row_number() OVER (PARTITION BY o.vec_id ORDER BY
        |    list_sum(list_transform(generate_series(1, len(o.embedding)),
        |      i -> (CAST(o.embedding[i] AS DOUBLE) - sv.svec[i]) * (CAST(o.embedding[i] AS DOUBLE) - sv.svec[i]))), sv.hsub) AS rn2
        |  FROM old_c o JOIN svecs sv ON o.cell = sv.cell) WHERE rn2 = 1),
        |fr_r AS (
        | SELECT vec_id, embedding, cell, hsub AS sub FROM (
        |  SELECT f.vec_id, f.embedding, f.cell, sv.hsub,
        |   row_number() OVER (PARTITION BY f.vec_id ORDER BY
        |    list_sum(list_transform(generate_series(1, len(f.embedding)),
        |      i -> (CAST(f.embedding[i] AS DOUBLE) - sv.svec[i]) * (CAST(f.embedding[i] AS DOUBLE) - sv.svec[i]))), sv.hsub) AS rn2
        |  FROM fr f JOIN svecs sv ON f.cell = sv.cell) WHERE rn2 = 1),
        |pairs AS (
        | SELECT f.vec_id, f.cell, o.vec_id AS old_id,
        |  list_sum(list_transform(generate_series(1, len(f.embedding)), i -> CAST(f.embedding[i] AS DOUBLE) * CAST(o.embedding[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(f.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(o.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS nn_cos
        | FROM fr_r f JOIN old_r o ON f.cell = o.cell AND f.sub = o.sub)
        |SELECT vec_id, cell, old_id AS nn_vec_id, nn_cos FROM (
        | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY nn_cos DESC, old_id) AS rnk
        | FROM pairs) WHERE rnk = 1
        |ORDER BY vec_id""".stripMargin,
    "ss28_knn_graph" ->
      s"""WITH $Ss28GraphCte
        |SELECT vec_id, cell, CAST(rank AS INT) AS rank, nbr_id, cos_sim FROM ranked
        |WHERE rank <= 3
        |ORDER BY vec_id, rank""".stripMargin,
    // the candidate's own argmin cell joined against the QUERY's
    // distance-ranked cell list: match at depth p iff that rank ≤ p
    // ss36: the oracle recomputes the audit frame with list slices
    // for the prefix cosines (embedding[1:P]) and replays the four
    // rank windows — doubles from the same parquet floats, ranks
    // tie-broken by vec_id (the ss17/ss34 bit-agreement precedent).
    "ss36_mrl_curve" ->
      """WITH qs AS (
        | SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        | WHERE vec_id % 50 = 7 AND vec_id < 5000),
        |allj AS (
        | SELECT q.q_id, e.vec_id,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim,
        |  list_sum(list_transform(generate_series(1, 8),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding[1:8], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb[1:8], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS c8,
        |  list_sum(list_transform(generate_series(1, 16),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding[1:16], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb[1:16], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS c16,
        |  list_sum(list_transform(generate_series(1, 32),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding[1:32], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb[1:32], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS c32
        | FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.q_id),
        |ranked AS (
        | SELECT *,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c8 DESC, vec_id) AS r8,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c16 DESC, vec_id) AS r16,
        |  row_number() OVER (PARTITION BY q_id ORDER BY c32 DESC, vec_id) AS r32,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS trk
        | FROM allj)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_true,
        | CAST(sum(CASE WHEN r8 <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit8,
        | CAST((sum(CASE WHEN r8 <= 40 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS recall8_milli,
        | CAST(125 AS BIGINT) AS cost8_milli,
        | CAST(sum(CASE WHEN r16 <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit16,
        | CAST((sum(CASE WHEN r16 <= 40 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS recall16_milli,
        | CAST(250 AS BIGINT) AS cost16_milli,
        | CAST(sum(CASE WHEN r32 <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit32,
        | CAST((sum(CASE WHEN r32 <= 40 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS recall32_milli,
        | CAST(500 AS BIGINT) AS cost32_milli
        |FROM ranked WHERE trk <= 10
        |GROUP BY 1 ORDER BY q_id""".stripMargin,
    "ss34_nprobe_curve" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |dist AS (
        | SELECT e.vec_id, c.c_label,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS d2
        | FROM embeddings e CROSS JOIN cvecs c),
        |rk AS (SELECT vec_id, c_label,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn FROM dist),
        |c1 AS (SELECT vec_id, c_label AS cell FROM rk WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |       WHERE vec_id % 50 = 7 AND vec_id < 5000),
        |allj AS (
        | SELECT q.q_id, e.vec_id,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim,
        |  qr.rn AS qrn
        | FROM embeddings e
        | JOIN c1 ON c1.vec_id = e.vec_id
        | CROSS JOIN qs q
        | JOIN rk qr ON qr.vec_id = q.q_id AND qr.c_label = c1.cell
        | WHERE e.vec_id <> q.q_id),
        |t10 AS (
        | SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |   ORDER BY cos_sim DESC, vec_id) AS trk FROM allj) WHERE trk <= 10),
        |h AS (
        | SELECT q_id, CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(sum(CASE WHEN qrn <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
        |  CAST(sum(CASE WHEN qrn <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
        |  CAST(sum(CASE WHEN qrn <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit4
        | FROM t10 GROUP BY 1),
        |cd AS (
        | SELECT q_id,
        |  CAST(sum(CASE WHEN qrn <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand1,
        |  CAST(sum(CASE WHEN qrn <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand2,
        |  CAST(sum(CASE WHEN qrn <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand4
        | FROM allj GROUP BY 1)
        |SELECT h.q_id, h.n_true,
        | h.n_hit1, cd.n_cand1, (h.n_hit1 * 1000) // h.n_true AS recall1_milli,
        | h.n_hit2, cd.n_cand2, (h.n_hit2 * 1000) // h.n_true AS recall2_milli,
        | h.n_hit4, cd.n_cand4, (h.n_hit4 * 1000) // h.n_true AS recall4_milli
        |FROM h JOIN cd USING (q_id) ORDER BY q_id""".stripMargin,
    // two unrolled integer-pagerank rounds over the SAME graph CTE
    // (all operands positive, so DuckDB's // floors like Spark's DIV)
    "ss33_pagerank" ->
      s"""WITH $Ss28GraphCte,
        |knn AS (SELECT vec_id AS src, nbr_id AS dst FROM ranked WHERE rank <= 3),
        |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM knn GROUP BY 1),
        |nodes AS (SELECT src AS vec_id FROM outd),
        |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (
        | SELECT k.dst, CAST(sum(r.r // o.outdeg) AS BIGINT) AS inflow
        | FROM knn k JOIN outd o ON k.src = o.src JOIN r0 r ON r.vec_id = k.src
        | GROUP BY 1),
        |r1 AS (
        | SELECT n.vec_id,
        |  CAST(150000 + (850 * COALESCE(c1.inflow, 0)) // 1000 AS BIGINT) AS r
        | FROM nodes n LEFT JOIN c1 ON c1.dst = n.vec_id),
        |c2 AS (
        | SELECT k.dst, CAST(sum(r.r // o.outdeg) AS BIGINT) AS inflow
        | FROM knn k JOIN outd o ON k.src = o.src JOIN r1 r ON r.vec_id = k.src
        | GROUP BY 1),
        |r2 AS (
        | SELECT n.vec_id,
        |  CAST(150000 + (850 * COALESCE(c2.inflow, 0)) // 1000 AS BIGINT) AS r
        | FROM nodes n LEFT JOIN c2 ON c2.dst = n.vec_id)
        |SELECT vec_id, r AS rank_micro FROM r2
        |ORDER BY rank_micro DESC, vec_id LIMIT 50""".stripMargin,
    // ss35: sign-pattern cells, quantized per-cell means and the
    // share/displacement arithmetic recomputed over the same parquet
    // floats; empty-half cells yield NULL displacement in both
    // engines.
    "ss35_embed_drift" ->
      """WITH b AS (
        | SELECT vec_id, (vec_id % 2 = 1) AS is_new,
        |  CAST((CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0.0 THEN 1 ELSE 0 END)
        |   + (CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0.0 THEN 2 ELSE 0 END)
        |   + (CASE WHEN CAST(embedding[3] AS DOUBLE) >= 0.0 THEN 4 ELSE 0 END)
        |   + (CASE WHEN CAST(embedding[4] AS DOUBLE) >= 0.0 THEN 8 ELSE 0 END) AS INT) AS cell,
        |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q1,
        |  CAST(floor(CAST(embedding[2] AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q2,
        |  CAST(floor(CAST(embedding[3] AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q3,
        |  CAST(floor(CAST(embedding[4] AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q4
        | FROM embeddings),
        |cells AS (
        | SELECT cell,
        |  CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |  CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN NOT is_new THEN q1 ELSE 0 END) AS BIGINT) AS qo1,
        |  CAST(sum(CASE WHEN is_new THEN q1 ELSE 0 END) AS BIGINT) AS qn1,
        |  CAST(sum(CASE WHEN NOT is_new THEN q2 ELSE 0 END) AS BIGINT) AS qo2,
        |  CAST(sum(CASE WHEN is_new THEN q2 ELSE 0 END) AS BIGINT) AS qn2,
        |  CAST(sum(CASE WHEN NOT is_new THEN q3 ELSE 0 END) AS BIGINT) AS qo3,
        |  CAST(sum(CASE WHEN is_new THEN q3 ELSE 0 END) AS BIGINT) AS qn3,
        |  CAST(sum(CASE WHEN NOT is_new THEN q4 ELSE 0 END) AS BIGINT) AS qo4,
        |  CAST(sum(CASE WHEN is_new THEN q4 ELSE 0 END) AS BIGINT) AS qn4
        | FROM b GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
        |  CAST(sum(n_new) AS BIGINT) AS t_new FROM cells),
        |rep AS (
        | SELECT cell, n_old, n_new,
        |  CASE WHEN t_old > 0 THEN (n_old * 1000) // t_old ELSE 0 END AS share_old_milli,
        |  CASE WHEN t_new > 0 THEN (n_new * 1000) // t_new ELSE 0 END AS share_new_milli,
        |  CASE WHEN n_old > 0 AND n_new > 0 THEN
        |    abs(qn1 // n_new - qo1 // n_old) + abs(qn2 // n_new - qo2 // n_old)
        |    + abs(qn3 // n_new - qo3 // n_old) + abs(qn4 // n_new - qo4 // n_old)
        |  ELSE NULL END AS disp_centi
        | FROM cells, tot)
        |SELECT cell, n_old, n_new, share_old_milli, share_new_milli,
        | abs(share_new_milli - share_old_milli) AS shift_milli,
        | disp_centi,
        | (abs(share_new_milli - share_old_milli) > 20
        |  OR COALESCE(disp_centi, 0) > 50) AS drifted
        |FROM rep ORDER BY cell""".stripMargin,
    "ss32_ood_audit" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, c.c_label,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS d2,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (
        | SELECT vec_id, c_label AS cell, CAST(floor(d2 * 10000) AS BIGINT) AS qd
        | FROM assigned WHERE rn = 1),
        |h AS (SELECT cell, qd, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
        |cm AS (SELECT cell, qd,
        |  CAST(sum(cnt) OVER (PARTITION BY cell ORDER BY qd
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS n FROM h),
        |p AS (
        | SELECT cell, min(CASE WHEN cum * 1000 >= n * 950 THEN qd END) AS p95_qd
        | FROM cm GROUP BY 1)
        |SELECT v.vec_id, v.cell, v.qd, p.p95_qd
        |FROM cells v JOIN p USING (cell)
        |WHERE v.qd > p.p95_qd
        |ORDER BY v.cell, v.qd DESC, v.vec_id""".stripMargin,
    // seeds = the 10% with vec_id % 10 = 0; two propagation rounds,
    // each labeling the unlabeled by neighbor majority (votes desc,
    // label asc ties); audit joins the true label back.
    "ss31_label_prop" ->
      s"""WITH $Ss28GraphCte,
        |knn AS (SELECT vec_id, nbr_id FROM ranked WHERE rank <= 3),
        |seeds AS (
        | SELECT vec_id, label, 0 AS round FROM embeddings WHERE vec_id % 10 = 0),
        |r1v AS (
        | SELECT k.vec_id, s.label, count(*) AS votes
        | FROM knn k JOIN seeds s ON k.nbr_id = s.vec_id
        | WHERE k.vec_id NOT IN (SELECT vec_id FROM seeds)
        | GROUP BY 1, 2),
        |r1 AS (
        | SELECT vec_id, label, 1 AS round FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, label) AS rn
        |  FROM r1v) WHERE rn = 1),
        |l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1),
        |r2v AS (
        | SELECT k.vec_id, s.label, count(*) AS votes
        | FROM knn k JOIN l1 s ON k.nbr_id = s.vec_id
        | WHERE k.vec_id NOT IN (SELECT vec_id FROM l1)
        | GROUP BY 1, 2),
        |r2 AS (
        | SELECT vec_id, label, 2 AS round FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, label) AS rn
        |  FROM r2v) WHERE rn = 1),
        |l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM r2)
        |SELECT l.vec_id, l.label, CAST(l.round AS INT) AS round,
        | l.label = e.label AS correct
        |FROM l2 l JOIN embeddings e USING (vec_id)
        |ORDER BY l.vec_id""".stripMargin,
    "ss30_ivf_hier" ->
      """WITH s AS (
        | SELECT vec_id, embedding, label FROM embeddings
        | WHERE (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 6, 1)) - 1) % 4 = 0),
        |ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM s),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |a1 AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |c1 AS (SELECT vec_id, embedding, c_label AS cell1 FROM a1 WHERE rn = 1),
        |sa AS (
        | SELECT s.vec_id, s.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY s.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(s.embedding)),
        |     i -> (CAST(s.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(s.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM s CROSS JOIN cvecs c),
        |sa1 AS (
        | SELECT vec_id, embedding, c_label AS cell1,
        |  CAST((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 7, 1)) - 1) % 4 AS INT) AS sub
        | FROM sa WHERE rn = 1),
        |sx AS (
        | SELECT cell1, sub, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM sa1),
        |scen AS (
        | SELECT cell1, sub, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM sx GROUP BY 1, 2, 3),
        |svecs AS (
        | SELECT cell1, sub, list(c ORDER BY pos) AS svec FROM scen GROUP BY 1, 2),
        |a2 AS (
        | SELECT c1.vec_id, c1.cell1, sv.sub,
        |  row_number() OVER (PARTITION BY c1.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(c1.embedding)),
        |     i -> (CAST(c1.embedding[i] AS DOUBLE) - sv.svec[i]) * (CAST(c1.embedding[i] AS DOUBLE) - sv.svec[i]))), sv.sub) AS rn
        | FROM c1 LEFT JOIN svecs sv ON c1.cell1 = sv.cell1)
        |SELECT vec_id, cell1, CAST(COALESCE(sub, -1) AS INT) AS cell2
        |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "ss29_mmr" -> {
      val cosE = (x: String, y: String) =>
        s"list_sum(list_transform(generate_series(1, len($x)), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))) / (${norm(x)} * ${norm(y)})"
      val steps = (2 to 4).map { k =>
        val prev = (1 until k).map(i => s"SELECT q_id, vec_id FROM sel$i").mkString(" UNION ALL ")
        s"""prev$k AS ($prev),
           |sel$k AS (
           | SELECT q_id, vec_id, rel_milli, score AS mmr_milli, $k AS pick FROM (
           |  SELECT g.*, row_number() OVER (PARTITION BY g.q_id ORDER BY g.score DESC, g.vec_id) AS prn
           |  FROM (
           |   SELECT c.q_id, c.vec_id, c.rel_milli, c.rel_milli - max(p.sim_milli) AS score
           |   FROM short c
           |   JOIN psim p ON p.q_id = c.q_id AND p.a = c.vec_id
           |   JOIN prev$k s ON s.q_id = p.q_id AND s.vec_id = p.b
           |   WHERE NOT EXISTS (SELECT 1 FROM prev$k s2 WHERE s2.q_id = c.q_id AND s2.vec_id = c.vec_id)
           |   GROUP BY c.q_id, c.vec_id, c.rel_milli) g) WHERE prn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |           WHERE vec_id % 50 = 7 AND vec_id < 5000),
         |cand AS (
         | SELECT q.q_id, e.vec_id, e.embedding,
         |  $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos
         | FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM cand),
         |short AS (SELECT q_id, vec_id, embedding,
         |          CAST(floor(cos * 1000) AS BIGINT) AS rel_milli FROM r WHERE rn <= 8),
         |psim AS (
         | SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
         |  CAST(floor((${cosE("a.embedding", "b.embedding")}) * 1000) AS BIGINT) AS sim_milli
         | FROM short a JOIN short b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
         |sel1 AS (
         | SELECT q_id, vec_id, rel_milli, rel_milli AS mmr_milli, 1 AS pick FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel_milli DESC, vec_id) AS prn FROM short)
         | WHERE prn = 1),
         |$steps
         |SELECT q_id, vec_id, rel_milli, mmr_milli, CAST(pick AS INT) AS pick
         |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
         |      UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4)
         |ORDER BY q_id, pick""".stripMargin
    },
    "ss06_ivf_multiprobe" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |qp AS (SELECT c_label AS q_cell FROM assigned WHERE vec_id = $QueryId AND rn <= 2),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QueryId)
        |SELECT e.vec_id, e.cell,
        | list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        |FROM cells e JOIN qp ON e.cell = qp.q_cell CROSS JOIN q
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "ss27_range_search" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |qp AS (SELECT vec_id AS q_id, c_label AS q_cell FROM assigned
        |       WHERE vec_id % 50 = 7 AND vec_id < 5000 AND rn <= 2),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |      WHERE vec_id % 50 = 7 AND vec_id < 5000),
        |m AS (
        | SELECT qp.q_id, e.vec_id, e.cell,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        | FROM cells e JOIN qp ON e.cell = qp.q_cell JOIN q ON q.q_id = qp.q_id
        | WHERE e.vec_id <> qp.q_id)
        |SELECT q_id, vec_id, cell, cos_sim,
        | CAST(count(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_range
        |FROM m WHERE cos_sim >= 0.25
        |ORDER BY q_id, cos_sim DESC, vec_id""".stripMargin,
    "ss19_semantic_decontam" ->
      """WITH p AS (
        | SELECT h, list_transform(generate_series(0, 63),
        |   i -> CASE WHEN substr(md5(CAST(h AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1) <= '7'
        |        THEN 1.0 ELSE -1.0 END) AS plane
        | FROM (SELECT unnest(generate_series(0, 31)) AS h)),
        |bits AS (
        | SELECT e.vec_id, p.h,
        |  CASE WHEN list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])) > 0 THEN 1 ELSE 0 END AS bit
        | FROM embeddings e CROSS JOIN p),
        |bk AS (
        | SELECT vec_id, CAST(h // 8 AS INT) AS band,
        |  CAST(sum(bit * (1 << CAST(h % 8 AS INT))) AS INT) AS bkey
        | FROM bits GROUP BY 1, 2),
        |cand AS (
        | SELECT DISTINCT x.vec_id, y.vec_id AS bench_id
        | FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        | WHERE x.vec_id % 10 <> 3 AND y.vec_id % 10 = 3),
        |n AS (
        | SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm
        | FROM embeddings),
        |scored AS (
        | SELECT c.vec_id, c.bench_id,
        |  list_sum(list_transform(generate_series(1, len(x.embedding)),
        |    i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm) AS cos_sim
        | FROM cand c JOIN n x ON x.vec_id = c.vec_id JOIN n y ON y.vec_id = c.bench_id),
        |agg AS (
        | SELECT vec_id, count(*) AS n_cand,
        |  CAST(sum(CASE WHEN cos_sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
        | FROM scored GROUP BY 1),
        |best AS (
        | SELECT vec_id, bench_id AS best_bench, cos_sim AS best_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rk
        |  FROM scored WHERE cos_sim >= 0.35) WHERE rk = 1)
        |SELECT e.vec_id,
        | coalesce(a.n_cand, 0) AS n_cand,
        | coalesce(a.n_hits, 0) AS n_hits,
        | coalesce(a.n_hits, 0) > 0 AS contaminated,
        | b.best_bench, b.best_cos
        |FROM embeddings e
        |LEFT JOIN agg a ON e.vec_id = a.vec_id
        |LEFT JOIN best b ON e.vec_id = b.vec_id
        |WHERE e.vec_id % 10 <> 3
        |ORDER BY e.vec_id""".stripMargin,
    "ss18_filtered_ann" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.label, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, label, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |qp AS (SELECT c_label AS q_cell FROM assigned WHERE vec_id = $QueryId AND rn <= 2),
        |q AS (SELECT embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id = $QueryId)
        |SELECT e.vec_id, e.label, e.cell,
        | list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        |FROM cells e JOIN qp ON e.cell = qp.q_cell CROSS JOIN q
        |WHERE e.label <> q.q_label
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "ss09_kmeans_iter" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |ex2 AS (
        | SELECT cell, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM cells),
        |nc AS (
        | SELECT cell, pos, count(*) AS n,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS new_c FROM ex2 GROUP BY 1, 2)
        |SELECT nc.cell, CAST(nc.pos AS INT) AS pos, nc.n, nc.new_c,
        | nc.new_c - cen.c AS shift
        |FROM nc JOIN cen ON nc.cell = cen.c_label AND nc.pos = cen.pos
        |ORDER BY nc.cell, nc.pos""".stripMargin,

    "ss10_semdedup" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |nn AS (SELECT count(*) AS n_corpus FROM embeddings),
        |cells AS (
        | SELECT vec_id, embedding, c_label AS cell,
        |  CAST(((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 65536
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 5, 1)) - 1))
        |    % GREATEST(1, (SELECT n_corpus FROM nn) // 640) AS INT) AS sub
        | FROM assigned WHERE rn = 1),
        |pairs AS (
        | SELECT b.vec_id, b.cell,
        |  list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        | FROM cells a JOIN cells b ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id)
        |SELECT vec_id, cell, count(*) AS n_close_smaller, max(cos_sim) AS max_cos
        |FROM pairs WHERE cos_sim > 0.3
        |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin,

    // ss37: ss10's pair CTEs fanned over the threshold list; the
    // τ/1000.0 division yields the identical double in both engines.
    "ss37_semdedup_curve" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |nn AS (SELECT count(*) AS n_corpus FROM embeddings),
        |cells AS (
        | SELECT vec_id, embedding, c_label AS cell,
        |  CAST(((instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 65536
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) * 4096
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 3, 1)) - 1) * 256
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 4, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 5, 1)) - 1))
        |    % GREATEST(1, (SELECT n_corpus FROM nn) // 640) AS INT) AS sub
        | FROM assigned WHERE rn = 1),
        |pairs AS (
        | SELECT b.vec_id,
        |  list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        | FROM cells a JOIN cells b ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id),
        |taus AS (SELECT unnest([300, 500, 700, 900]) AS tau_milli),
        |drop0 AS (
        | SELECT t.tau_milli, p.vec_id, count(*) AS nc
        | FROM pairs p CROSS JOIN taus t
        | WHERE p.cos_sim > t.tau_milli / 1000.0
        | GROUP BY 1, 2),
        |roll AS (
        | SELECT tau_milli, CAST(count(*) AS BIGINT) AS n_dropped,
        |  CAST(sum(nc) AS BIGINT) AS n_close_pairs
        | FROM drop0 GROUP BY 1)
        |SELECT CAST(t.tau_milli AS BIGINT) AS tau_milli,
        | coalesce(r.n_dropped, 0) AS n_dropped,
        | (SELECT n_corpus FROM nn) - coalesce(r.n_dropped, 0) AS n_survivors,
        | (coalesce(r.n_dropped, 0) * 1000) // greatest(1, (SELECT n_corpus FROM nn)) AS drop_milli,
        | coalesce(r.n_close_pairs, 0) AS n_close_pairs
        |FROM taus t LEFT JOIN roll r USING (tau_milli)
        |ORDER BY tau_milli""".stripMargin,

    "ss11_quantized_ann" ->
      s"""WITH m AS (
        | SELECT vec_id, embedding,
        |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS maxabs
        | FROM embeddings),
        |qv AS (
        | SELECT vec_id, embedding,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) AS q8
        | FROM m),
        |q AS (SELECT q8 AS qq, embedding AS q_emb FROM qv WHERE vec_id = $QueryId),
        |scored AS (
        | SELECT e.vec_id, e.embedding, q.q_emb,
        |  CAST(list_sum(list_transform(generate_series(1, len(e.q8)),
        |    i -> e.q8[i] * q.qq[i])) AS BIGINT) AS int_score
        | FROM qv e, q),
        |cand AS (SELECT * FROM scored ORDER BY int_score DESC, vec_id LIMIT 20)
        |SELECT vec_id, int_score,
        | list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        |FROM cand ORDER BY cos_exact DESC, vec_id LIMIT 10""".stripMargin,

    "ss13_pq_ann" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QueryId),
        |subd AS (
        | SELECT e.vec_id, s.m, c.c_label,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[s.m*$SubDim + j] AS DOUBLE) - c.cvec[s.m*$SubDim + j])
        |       * (CAST(e.embedding[s.m*$SubDim + j] AS DOUBLE) - c.cvec[s.m*$SubDim + j]))) AS d2
        | FROM embeddings e
        | CROSS JOIN (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m) s
        | CROSS JOIN cvecs c),
        |chosen AS (
        | SELECT vec_id, m, c_label AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c_label) AS rn
        |  FROM subd)
        | WHERE rn = 1),
        |qd AS (
        | SELECT ch.vec_id, ch.m, ch.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(q.q_emb[ch.m*$SubDim + j] AS DOUBLE) - c.cvec[ch.m*$SubDim + j])
        |       * (CAST(q.q_emb[ch.m*$SubDim + j] AS DOUBLE) - c.cvec[ch.m*$SubDim + j]))) AS qd2
        | FROM chosen ch JOIN cvecs c ON c.c_label = ch.code CROSS JOIN q),
        |adc AS (
        | SELECT vec_id, list(code ORDER BY m) AS codes,
        |  list_sum(list(qd2 ORDER BY m)) AS adc
        | FROM qd GROUP BY vec_id),
        |cand AS (
        | SELECT a.vec_id, a.codes, a.adc, e.embedding
        | FROM adc a JOIN embeddings e USING (vec_id)
        | ORDER BY a.adc, a.vec_id LIMIT 20)
        |SELECT c.vec_id,
        | array_to_string(list_transform(c.codes, x -> CAST(x AS VARCHAR)), '-') AS codes,
        | c.adc,
        | list_sum(list_transform(generate_series(1, len(c.embedding)), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        |FROM cand c CROSS JOIN q
        |ORDER BY cos_exact DESC, c.vec_id LIMIT 10""".stripMargin,

    "ss14_pq_train" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QueryId),
        |subs AS (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m),
        |js AS (SELECT unnest(generate_series(1, $SubDim)) AS j),
        |sb0 AS (
        | SELECT s.m, c.c_label AS code,
        |  list_transform(generate_series(1, $SubDim), j -> c.cvec[s.m*$SubDim + j]) AS svec
        | FROM cvecs c CROSS JOIN subs s),
        |dA AS (
        | SELECT e.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        | FROM embeddings e CROSS JOIN sb0 sb),
        |aA AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM dA)
        | WHERE rn = 1),
        |nA AS (
        | SELECT a.m, a.code, jj.j,
        |  CAST(sum(CAST(floor(CAST(e.embedding[a.m*$SubDim + jj.j] AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 100) AS v
        | FROM aA a JOIN embeddings e USING (vec_id) CROSS JOIN js jj
        | GROUP BY 1, 2, 3),
        |sb1 AS (SELECT m, code, list(v ORDER BY j) AS svec FROM nA GROUP BY 1, 2),
        |dB AS (
        | SELECT e.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        | FROM embeddings e CROSS JOIN sb1 sb),
        |aB AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM dB)
        | WHERE rn = 1),
        |nB AS (
        | SELECT a.m, a.code, jj.j,
        |  CAST(sum(CAST(floor(CAST(e.embedding[a.m*$SubDim + jj.j] AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * 100) AS v
        | FROM aB a JOIN embeddings e USING (vec_id) CROSS JOIN js jj
        | GROUP BY 1, 2, 3),
        |sb2 AS (SELECT m, code, list(v ORDER BY j) AS svec FROM nB GROUP BY 1, 2),
        |dE AS (
        | SELECT e.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        | FROM embeddings e CROSS JOIN sb2 sb),
        |enc AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM dE)
        | WHERE rn = 1),
        |qd AS (
        | SELECT en.vec_id, en.m, en.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(q.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(q.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS qd2
        | FROM enc en JOIN sb2 sb ON sb.m = en.m AND sb.code = en.code CROSS JOIN q),
        |adc AS (
        | SELECT vec_id,
        |  array_to_string(list_transform(list(code ORDER BY m), x -> CAST(x AS VARCHAR)), '-') AS codes,
        |  list_sum(list(qd2 ORDER BY m)) AS adc
        | FROM qd GROUP BY vec_id),
        |cand AS (
        | SELECT a.vec_id, a.codes, a.adc, e.embedding
        | FROM adc a JOIN embeddings e USING (vec_id)
        | ORDER BY a.adc, a.vec_id LIMIT 20)
        |SELECT c.vec_id, c.codes, c.adc,
        | list_sum(list_transform(generate_series(1, len(c.embedding)), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        |FROM cand c CROSS JOIN q
        |ORDER BY cos_exact DESC, c.vec_id LIMIT 10""".stripMargin,

    "ss15_pq_incremental" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings WHERE vec_id % 5 != 0),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |subs AS (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m),
        |sb0 AS (
        | SELECT s.m, c.c_label AS code,
        |  list_transform(generate_series(1, $SubDim), j -> c.cvec[s.m*$SubDim + j]) AS svec
        | FROM cvecs c CROSS JOIN subs s),
        |d AS (
        | SELECT e.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        | FROM embeddings e CROSS JOIN sb0 sb WHERE e.vec_id % 5 = 0),
        |enc AS (
        | SELECT vec_id, m, code, d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM d)
        | WHERE rn = 1)
        |SELECT vec_id,
        | array_to_string(list_transform(list(code ORDER BY m), x -> CAST(x AS VARCHAR)), '-') AS codes,
        | list_sum(list(d2 ORDER BY m)) AS recon_d2
        |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "ss17_recall_report" -> {
      val p32 = planesN(32)
      val planeCols = (planes.indices.map(h => s"${sqlList(planes(h))} AS p$h") ++
        p32.indices.map(h => s"${sqlList(p32(h))} AS t$h")).mkString(", ")
      val bucketExpr = planes.indices.map(h =>
        s"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * p$h[i])) > 0 THEN ${1 << h} ELSE 0 END)"
      ).mkString(" + ")
      val tableExprs = (0 until 4).map { t =>
        val bits = (0 until 8).map { j =>
          val h = t * 8 + j
          s"(CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE) * t$h[i])) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"CAST($bits AS INT) AS b$t"
      }.mkString(", ")
      s"""WITH p AS (SELECT $planeCols),
         |b AS (SELECT vec_id, embedding, CAST($bucketExpr AS INT) AS bucket, $tableExprs
         |      FROM embeddings, p),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS qb,
         |       b0 AS qb0, b1 AS qb1, b2 AS qb2, b3 AS qb3
         |      FROM b WHERE vec_id % 50 = 7 AND vec_id < 5000),
         |alljoin AS (
         | SELECT q.q_id, e.vec_id,
         |  $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim,
         |  e.bucket = q.qb AS m1,
         |  (e.b0 = q.qb0 OR e.b1 = q.qb1 OR e.b2 = q.qb2 OR e.b3 = q.qb3) AS m4
         | FROM b e, q WHERE e.vec_id <> q.q_id),
         |truth AS (
         | SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM alljoin) WHERE rk <= 10),
         |ann1 AS (
         | SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM alljoin WHERE m1) WHERE rk <= 10),
         |ann4 AS (
         | SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM alljoin WHERE m4) WHERE rk <= 10),
         |nc1 AS (SELECT q_id, count(*) AS n_cand1 FROM alljoin WHERE m1 GROUP BY 1),
         |nc4 AS (SELECT q_id, count(*) AS n_cand4 FROM alljoin WHERE m4 GROUP BY 1),
         |hits AS (
         | SELECT t.q_id, count(*) AS n_true,
         |  CAST(sum(CASE WHEN a1.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(sum(CASE WHEN a4.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit4
         | FROM truth t
         | LEFT JOIN ann1 a1 ON t.q_id = a1.q_id AND t.vec_id = a1.vec_id
         | LEFT JOIN ann4 a4 ON t.q_id = a4.q_id AND t.vec_id = a4.vec_id
         | GROUP BY 1)
         |SELECT h.q_id, n_true,
         | coalesce(n_cand1, 0) AS n_cand1, n_hit1, (n_hit1 * 1000) // n_true AS recall1_milli,
         | coalesce(n_cand4, 0) AS n_cand4, n_hit4, (n_hit4 * 1000) // n_true AS recall4_milli
         |FROM hits h
         |LEFT JOIN nc1 ON h.q_id = nc1.q_id
         |LEFT JOIN nc4 ON h.q_id = nc4.q_id ORDER BY h.q_id""".stripMargin
    },
    "ss16_ivfpq" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (SELECT vec_id, embedding, c_label AS cell FROM assigned WHERE rn = 1),
        |q AS (SELECT embedding AS q_emb, cell AS q_cell FROM cells WHERE vec_id = $QueryId),
        |subs AS (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m),
        |sb0 AS (
        | SELECT s.m, c.c_label AS code,
        |  list_transform(generate_series(1, $SubDim), j -> c.cvec[s.m*$SubDim + j]) AS svec
        | FROM cvecs c CROSS JOIN subs s),
        |cand0 AS (
        | SELECT c.vec_id, c.embedding, c.cell FROM cells c, q WHERE c.cell = q.q_cell),
        |d AS (
        | SELECT e.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        | FROM cand0 e CROSS JOIN sb0 sb),
        |enc AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM d)
        | WHERE rn = 1),
        |qd AS (
        | SELECT en.vec_id, en.m, en.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(q.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(q.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS qd2
        | FROM enc en JOIN sb0 sb ON sb.m = en.m AND sb.code = en.code CROSS JOIN q),
        |adc AS (
        | SELECT vec_id,
        |  array_to_string(list_transform(list(code ORDER BY m), x -> CAST(x AS VARCHAR)), '-') AS codes,
        |  list_sum(list(qd2 ORDER BY m)) AS adc
        | FROM qd GROUP BY vec_id),
        |cand AS (
        | SELECT a.vec_id, c0.cell, a.codes, a.adc, c0.embedding
        | FROM adc a JOIN cand0 c0 USING (vec_id)
        | ORDER BY a.adc, a.vec_id LIMIT 20)
        |SELECT c.vec_id, c.cell, c.codes, c.adc,
        | list_sum(list_transform(generate_series(1, len(c.embedding)), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        |FROM cand c CROSS JOIN q
        |ORDER BY cos_exact DESC, c.vec_id LIMIT 10""".stripMargin,

    "ss22_ivfpq_batch" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |dist AS (
        | SELECT e.vec_id, e.embedding, c.c_label,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS dist2
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (
        | SELECT vec_id, embedding, c_label AS cell FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn FROM dist)
        | WHERE rn = 1),
        |subs AS (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m),
        |sb0 AS (
        | SELECT s.m, c.c_label AS code,
        |  list_transform(generate_series(1, $SubDim), j -> c.cvec[s.m*$SubDim + j]) AS svec
        | FROM cvecs c CROSS JOIN subs s),
        |enc AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT d.vec_id, d.m, d.code,
        |   row_number() OVER (PARTITION BY d.vec_id, d.m ORDER BY d.d2, d.code) AS rn
        |  FROM (
        |   SELECT e.vec_id, sb.m, sb.code,
        |    list_sum(list_transform(generate_series(1, $SubDim),
        |      j -> (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |         * (CAST(e.embedding[sb.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS d2
        |   FROM cells e CROSS JOIN sb0 sb) d)
        | WHERE rn = 1),
        |probes AS (
        | SELECT vec_id AS q_id, embedding AS q_emb, c_label AS q_cell FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
        |  FROM dist WHERE vec_id % 50 = 7)
        | WHERE rn <= 2),
        |cand0 AS (
        | SELECT p.q_id, p.q_emb, c.vec_id, c.cell, c.embedding
        | FROM probes p JOIN cells c ON c.cell = p.q_cell
        | WHERE c.vec_id <> p.q_id),
        |qd AS (
        | SELECT c0.q_id, en.vec_id, en.m,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (CAST(c0.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j])
        |       * (CAST(c0.q_emb[en.m*$SubDim + j] AS DOUBLE) - sb.svec[j]))) AS qd2
        | FROM cand0 c0
        | JOIN enc en ON en.vec_id = c0.vec_id
        | JOIN sb0 sb ON sb.m = en.m AND sb.code = en.code),
        |adc AS (
        | SELECT q_id, vec_id, list_sum(list(qd2 ORDER BY m)) AS adc
        | FROM qd GROUP BY 1, 2),
        |short AS (
        | SELECT q_id, vec_id, adc FROM (
        |  SELECT a.q_id, a.vec_id, a.adc,
        |   row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc, a.vec_id) AS srn
        |  FROM adc a)
        | WHERE srn <= 10),
        |rer AS (
        | SELECT s.q_id, s.vec_id, c.cell, s.adc,
        |  list_sum(list_transform(generate_series(1, len(c.embedding)),
        |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(c.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        | FROM short s JOIN cand0 c ON c.q_id = s.q_id AND c.vec_id = s.vec_id)
        |SELECT q_id, vec_id, cell, adc, cos_exact, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_exact DESC, vec_id) AS INT) AS rank
        | FROM rer)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "ss24_ivfpq_residual" ->
      s"""WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |dist AS (
        | SELECT e.vec_id, e.embedding, c.c_label, c.cvec,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS dist2
        | FROM embeddings e CROSS JOIN cvecs c),
        |cells AS (
        | SELECT vec_id, embedding, c_label AS cell, cvec FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn FROM dist)
        | WHERE rn = 1),
        |res AS (
        | SELECT vec_id, embedding, cell,
        |  list_transform(generate_series(1, len(embedding)),
        |    i -> CAST(embedding[i] AS DOUBLE) - cvec[i]) AS r
        | FROM cells),
        |exr AS (
        | SELECT vec_id % $ResCodes AS code,
        |  unnest(generate_series(1, len(r))) AS pos,
        |  unnest(list_transform(r, x -> CAST(floor(x * $ResGrain + 0.5) AS BIGINT))) AS rq
        | FROM res),
        |rcen AS (
        | SELECT code, pos, CAST(sum(rq) AS DOUBLE) / (count(*) * $ResGrain) AS c
        | FROM exr GROUP BY 1, 2),
        |rvecs AS (SELECT code, list(c ORDER BY pos) AS rvec FROM rcen GROUP BY 1),
        |subs AS (SELECT unnest(generate_series(0, ${NumSub - 1})) AS m),
        |js AS (SELECT unnest(generate_series(1, $SubDim)) AS j),
        |sb0 AS (
        | SELECT s.m, c.code,
        |  list_transform(generate_series(1, $SubDim), j -> c.rvec[s.m*$SubDim + j]) AS svec
        | FROM rvecs c CROSS JOIN subs s),
        |dA AS (
        | SELECT r.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (r.r[sb.m*$SubDim + j] - sb.svec[j]) * (r.r[sb.m*$SubDim + j] - sb.svec[j]))) AS d2
        | FROM res r CROSS JOIN sb0 sb),
        |aA AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM dA)
        | WHERE rn = 1),
        |nA AS (
        | SELECT a.m, a.code, jj.j,
        |  CAST(sum(CAST(floor(r.r[a.m*$SubDim + jj.j] * $ResGrain + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * $ResGrain) AS v
        | FROM aA a JOIN res r USING (vec_id) CROSS JOIN js jj
        | GROUP BY 1, 2, 3),
        |sb1 AS (SELECT m, code, list(v ORDER BY j) AS svec FROM nA GROUP BY 1, 2),
        |dB AS (
        | SELECT r.vec_id, sb.m, sb.code,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (r.r[sb.m*$SubDim + j] - sb.svec[j]) * (r.r[sb.m*$SubDim + j] - sb.svec[j]))) AS d2
        | FROM res r CROSS JOIN sb1 sb),
        |aB AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn FROM dB)
        | WHERE rn = 1),
        |nB AS (
        | SELECT a.m, a.code, jj.j,
        |  CAST(sum(CAST(floor(r.r[a.m*$SubDim + jj.j] * $ResGrain + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (count(*) * $ResGrain) AS v
        | FROM aB a JOIN res r USING (vec_id) CROSS JOIN js jj
        | GROUP BY 1, 2, 3),
        |sb2 AS (SELECT m, code, list(v ORDER BY j) AS svec FROM nB GROUP BY 1, 2),
        |enc AS (
        | SELECT vec_id, m, code FROM (
        |  SELECT d.vec_id, d.m, d.code,
        |   row_number() OVER (PARTITION BY d.vec_id, d.m ORDER BY d.d2, d.code) AS rn
        |  FROM (
        |   SELECT r.vec_id, sb.m, sb.code,
        |    list_sum(list_transform(generate_series(1, $SubDim),
        |      j -> (r.r[sb.m*$SubDim + j] - sb.svec[j]) * (r.r[sb.m*$SubDim + j] - sb.svec[j]))) AS d2
        |   FROM res r CROSS JOIN sb2 sb) d)
        | WHERE rn = 1),
        |probes AS (
        | SELECT q_id, q_emb, q_cell, q_cvec FROM (
        |  SELECT vec_id AS q_id, embedding AS q_emb, c_label AS q_cell, cvec AS q_cvec,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
        |  FROM dist WHERE vec_id % 50 = 7)
        | WHERE rn <= 2),
        |cand0 AS (
        | SELECT p.q_id, p.q_emb,
        |  list_transform(generate_series(1, len(p.q_emb)),
        |    i -> CAST(p.q_emb[i] AS DOUBLE) - p.q_cvec[i]) AS q_r,
        |  c.vec_id, c.cell, c.embedding
        | FROM probes p JOIN cells c ON c.cell = p.q_cell
        | WHERE c.vec_id <> p.q_id),
        |qd AS (
        | SELECT c0.q_id, en.vec_id, en.m,
        |  list_sum(list_transform(generate_series(1, $SubDim),
        |    j -> (c0.q_r[en.m*$SubDim + j] - sb.svec[j]) * (c0.q_r[en.m*$SubDim + j] - sb.svec[j]))) AS qd2
        | FROM cand0 c0
        | JOIN enc en ON en.vec_id = c0.vec_id
        | JOIN sb2 sb ON sb.m = en.m AND sb.code = en.code),
        |adc AS (
        | SELECT q_id, vec_id, list_sum(list(qd2 ORDER BY m)) AS adc
        | FROM qd GROUP BY 1, 2),
        |short AS (
        | SELECT q_id, vec_id, adc FROM (
        |  SELECT a.q_id, a.vec_id, a.adc,
        |   row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc, a.vec_id) AS srn
        |  FROM adc a)
        | WHERE srn <= 10),
        |rer AS (
        | SELECT s.q_id, s.vec_id, c.cell, s.adc,
        |  list_sum(list_transform(generate_series(1, len(c.embedding)),
        |    i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(c.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(c.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_exact
        | FROM short s JOIN cand0 c ON c.q_id = s.q_id AND c.vec_id = s.vec_id)
        |SELECT q_id, vec_id, cell, adc, cos_exact, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_exact DESC, vec_id) AS INT) AS rank
        | FROM rer)
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    "ss25_mrl_prefix" ->
      """WITH q AS (
        | SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        | WHERE vec_id % 50 = 7 AND vec_id < 5000),
        |sc AS (
        | SELECT q.q_id, e.vec_id,
        |  list_sum(list_transform(generate_series(1, 16),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding[1:16], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb[1:16], v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS pre_cos
        | FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |sh AS (
        | SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pre_cos DESC, vec_id) AS prk
        |  FROM sc)
        | WHERE prk <= 40),
        |rr AS (
        | SELECT s.q_id, s.vec_id, s.pre_cos,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
        |   / (sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(q.q_emb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos_sim
        | FROM sh s JOIN embeddings e ON s.vec_id = e.vec_id
        |           JOIN q ON s.q_id = q.q_id)
        |SELECT q_id, vec_id, pre_cos, cos_sim, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        | FROM rr)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "ss26_cell_balance" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, c.c_label,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.c_label) AS rn
        | FROM embeddings e CROSS JOIN cvecs c),
        |counts AS (
        | SELECT c_label AS cell, CAST(count(*) AS BIGINT) AS n
        | FROM assigned WHERE rn = 1 GROUP BY 1),
        |t AS (
        | SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_cells
        | FROM counts)
        |SELECT cell, n, total, n_cells,
        | (n * 1000) // total AS share_milli,
        | (n * n_cells * 1000) // total AS balance_milli,
        | n * n_cells > total * 2 AS oversized
        |FROM counts, t ORDER BY cell""".stripMargin,

    "ss03_pairwise_label" ->
      """WITH ex AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |  unnest(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM embeddings),
        |cen AS (
        | SELECT label AS c_label, pos,
        |  CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c FROM ex GROUP BY 1, 2),
        |cvecs AS (
        | SELECT c_label, list(c ORDER BY pos) AS cvec FROM cen GROUP BY 1),
        |assigned AS (
        | SELECT e.vec_id, e.label, c.c_label,
        |  list_sum(list_transform(generate_series(1, len(e.embedding)),
        |    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))) AS dist2
        | FROM embeddings e CROSS JOIN cvecs c),
        |ranked AS (
        | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn FROM assigned)
        |SELECT vec_id, label, c_label AS nearest_label, dist2
        |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "ss20_pca_power" ->
      """WITH qv AS (
        | SELECT vec_id, list_transform(embedding,
        |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
        | FROM embeddings),
        |pos AS (
        | SELECT vec_id,
        |  CAST(unnest(generate_series(1, len(q))) AS INT) AS i,
        |  unnest(q) AS qi
        | FROM qv),
        |cells AS (
        | SELECT a.i AS i, b.i AS j, CAST(sum(a.qi * b.qi) AS BIGINT) AS s_ij
        | FROM pos a JOIN pos b USING (vec_id) GROUP BY 1, 2),
        |dims AS (
        | SELECT i, CAST(sum(qi) AS BIGINT) AS s_i, count(*) AS n
        | FROM pos GROUP BY 1),
        |cov AS (
        | SELECT c.i, c.j, (d1.n * c.s_ij - d1.s_i * d2.s_i) AS cq
        | FROM cells c JOIN dims d1 ON c.i = d1.i JOIN dims d2 ON c.j = d2.i),
        |v1 AS (SELECT j, CAST(sum(cq) AS BIGINT) AS v1 FROM cov GROUP BY 1),
        |m1 AS (SELECT max(abs(v1)) AS m1 FROM v1),
        |v1q AS (
        | SELECT j AS i,
        |  CAST(floor(CAST(v1 AS DOUBLE) / CAST(m1 AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS w
        | FROM v1, m1),
        |v2 AS (
        | SELECT c.j, CAST(sum(c.cq * v.w) AS BIGINT) AS v2
        | FROM cov c JOIN v1q v ON c.i = v.i GROUP BY 1),
        |m2 AS (SELECT max(abs(v2)) AS m2 FROM v2),
        |diag AS (SELECT j, cq AS var_q FROM cov WHERE i = j)
        |SELECT CAST(v2.j AS INT) AS dim, d.s_i AS sum_milli, diag.var_q,
        | CAST(v2.v2 AS DOUBLE) / CAST(m2.m2 AS DOUBLE) AS loading
        |FROM v2 CROSS JOIN m2
        |JOIN diag ON v2.j = diag.j
        |JOIN dims d ON v2.j = d.i
        |ORDER BY dim""".stripMargin,

    "ss21_hybrid_rrf" ->
      s"""WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |h AS (
        | SELECT doc_id, w FROM
        |  (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
        | WHERE w IN ('vector', 'join', 'scan')),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM h GROUP BY 1, 2),
        |idf AS (
        | SELECT w, (1000000 * n_docs) // count(*) AS idf_sc
        | FROM tf, n GROUP BY w, n_docs),
        |lexs AS (
        | SELECT doc_id, CAST(sum(tf * idf_sc) AS BIGINT) AS lex_score
        | FROM tf JOIN idf USING (w) GROUP BY 1),
        |lextop AS (
        | SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS INT) AS lex_rank
        | FROM (SELECT * FROM lexs ORDER BY lex_score DESC, doc_id LIMIT 50)),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $QueryId),
        |vecs AS (
        | SELECT e.vec_id AS doc_id,
        |  $dotQ / (${norm("e.embedding")} * ${norm("q.q_emb")}) AS cos_sim
        | FROM embeddings e, q),
        |vectop AS (
        | SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS vec_rank
        | FROM (SELECT * FROM vecs ORDER BY cos_sim DESC, doc_id LIMIT 50))
        |SELECT COALESCE(v.doc_id, l.doc_id) AS doc_id,
        | COALESCE(v.vec_rank, 0) AS vec_rank,
        | COALESCE(l.lex_rank, 0) AS lex_rank,
        | CAST(COALESCE(1000000 // (60 + v.vec_rank), 0)
        |    + COALESCE(1000000 // (60 + l.lex_rank), 0) AS BIGINT) AS rrf_micro
        |FROM vectop v FULL OUTER JOIN lextop l ON v.doc_id = l.doc_id
        |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,

    "ss23_kmeans_train" -> kmeansTrainSql(iters = 3)
  )

  /** The ss23 oracle, generated per iteration count: label-seeded
    * centroids, then `iters` Lloyd rounds — assignment by row_number
    * over (d2, cell) (the argmin tie-break Spark's array_min-on-struct
    * applies), recompute as exact quantized-long sums over 1-based
    * dims. Mirrors api.kmeansTrain's arithmetic term for term. */
  private def kmeansTrainSql(iters: Int): String = {
    def round(i: Int): String =
      s"""d$i AS (
        | SELECT e.vec_id, c.cell,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(generate_series(1, len(e.embedding)),
        |     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), c.cell) AS rn
        | FROM embeddings e CROSS JOIN c${i - 1}v c),
        |a$i AS (SELECT vec_id, cell FROM d$i WHERE rn = 1),
        |x$i AS (
        | SELECT a.cell, unnest(generate_series(1, len(e.embedding))) AS pos,
        |  unnest(list_transform(e.embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
        | FROM a$i a JOIN embeddings e USING (vec_id)),
        |n$i AS (
        | SELECT cell, pos, CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c
        | FROM x$i GROUP BY 1, 2),
        |c${i}v AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM n$i GROUP BY 1)""".stripMargin
    s"""WITH x0 AS (
      | SELECT CAST(label AS BIGINT) AS cell,
      |  unnest(generate_series(1, len(embedding))) AS pos,
      |  unnest(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT))) AS vq
      | FROM embeddings),
      |n0 AS (
      | SELECT cell, pos, CAST(sum(vq) AS DOUBLE) / (count(*) * 100) AS c
      | FROM x0 GROUP BY 1, 2),
      |c0v AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM n0 GROUP BY 1),
      |${(1 to iters).map(round).mkString(",\n")}
      |SELECT cell, CAST(pos AS INT) AS pos, c FROM n$iters
      |ORDER BY cell, pos""".stripMargin
  }
}
