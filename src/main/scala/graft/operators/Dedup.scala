package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate detection over `documents` / `embeddings` — the
  * LLM-pipeline dedup family (SURVEY.md §2): MinHash+LSH, SimHash,
  * n-gram Jaccard verification, embedding-cosine near-dup. Exact dedup
  * (dd01) lives in [[TextOps]].
  *
  * Determinism: all signatures are md5-derived (bit-identical across
  * engines); similarity scores are integer milli-units or raw doubles
  * from exact inputs — never rounded floats.
  *
  * Scale: every candidate generator is a bucket join (band key, hash
  * band, prefix bucket, label) — never an all-pairs product. Shuffles
  * are O(docs x bands) with tiny groups; verification only touches
  * bucket-mates.
  */
object Dedup {
  private val NumPerms = 8
  private val BandWidth = 2 // 4 bands of 2 rows

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** doc_id + minhash signature array (NumPerms values).
    *
    * Hash-count optimization: one md5 digest carries 128 independent
    * bits, so each of 2 salted digests per shingle yields 4 independent
    * 32-bit (8-hex-char) hash slices — 8 permutations from 2 md5 calls
    * instead of 8 (4x less hashing; this dominates dedup runtime). Min
    * over fixed-width lowercase hex is numeric min in both engines.
    */
  private def signatures(df: DataFrame): DataFrame = {
    // Two-step projection: `words` materialized once per row (the split
    // would otherwise be re-inlined into every element_at of the
    // shingle lambda = O(words^2) per doc in interpreted HOF eval);
    // spread() widens under-parallelized scans so the CPU-heavy hashing
    // uses all cores; it is a no-op at cluster scale (Tables.spread).
    // r13: MinHashWordsExpr fuses the k=3 shingling INTO the native
    // hash kernel — the per-doc shingle string array the interpreted
    // transform used to materialize existed only to be hashed
    // (byte-exact: same windows, same concat_ws join, same minima).
    Tables.spread(df)
      .select(col("doc_id"), tokens(col("text")).as("words"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.bridge.column(
          graft.plans.MinHashWordsExpr(
            org.apache.spark.sql.graft.bridge.expression(col("words")), 3)).as("sig"))
  }

  /** Distinct LSH candidate pairs (a < b) with signature agreement. */
  /** Dev/bench access to the candidate generator. */
  def candidatePairsPublic(docDf: DataFrame): DataFrame = candidatePairs(docDf)
  def candidateEdgesPublic(docDf: DataFrame): DataFrame = candidateEdges(docDf)
  def signaturesPublic(docDf: DataFrame): DataFrame = signatures(docDf)

  /** The LSH band derivation as a reusable kernel: one (doc_id, band,
    * bkey) row per band of the doc's MinHash signature — the batch
    * operators' exact banding, shared with the streaming near-dup
    * gate ([[graft.streaming.TopicStream.neardupStream]]) so an
    * arriving doc bands precisely as a batch-established one would
    * (the ivfpqEncode kernel-sharing discipline). */
  def bandsPublic(docDf: DataFrame): DataFrame =
    signatures(docDf)
      .select(col("doc_id"), posexplode(array((0 until NumPerms / BandWidth).map(b =>
        bandKey(col("sig"), b * BandWidth, BandWidth)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  private def candidatePairs(docDf: DataFrame): DataFrame = {
    // persist(): both sides of the band self-join below consume `sig`;
    // without it the whole tokenize→shingle→MinHash pipeline (the
    // dominant dedup cost — 158 s of the round-1 sf0.1 bench) executes
    // TWICE. MEMORY_AND_DISK so big corpora spill instead of OOM; the
    // cache is also plan-matched, so dd04's identical signature plan
    // reuses it within a session instead of hashing a third time.
    val sig = signatures(docDf).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = sig.select(col("doc_id"), col("sig"),
      posexplode(array((0 until NumPerms / BandWidth).map(b =>
        bandKey(col("sig"), b * BandWidth, BandWidth)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val a = bands.select(col("doc_id").as("a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        foldSumInt(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L))).as("n_sig_match"))
      .distinct()
  }

  /** [[candidatePairs]] projected to the bare (a, b) edge set — for
    * the CC / verify-join consumers (dd04/dd06/dd07/dd09/dd15/dd18/
    * sp14 and the api verbs) that never read `n_sig_match`. Same
    * candidates by construction (n_sig_match is a function of (a, b),
    * so the 2-col distinct yields exactly the 3-col distinct's edge
    * set), but the band self-join exchanges only (doc_id, band, bkey)
    * scalars: the two 8-string signature arrays that candidatePairs
    * ships through BOTH exchange sides — the widest columns in the
    * dedup family's hottest shuffle — never leave the map side, the
    * per-candidate zip_with agreement fold is never evaluated, and
    * the distinct dedups 2 longs instead of 2 longs + a long (guide
    * §2.3: project before the exchange). */
  private def candidateEdges(docDf: DataFrame): DataFrame = {
    val sig = signatures(docDf).persist(StorageLevel.MEMORY_AND_DISK)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until NumPerms / BandWidth).map(b =>
        bandKey(col("sig"), b * BandWidth, BandWidth)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val a = bands.select(col("doc_id").as("a"), col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Generic q-gram-blocked edit-distance matcher over a distinct-name
    * frame (one `name` string column) — the ENTITY-RESOLUTION string
    * similarity join (the dedup family's third similarity measure
    * next to set-Jaccard shingles and embedding cosine): candidates
    * are name pairs sharing >= `minSharedGrams` distinct character
    * 3-grams (the classic count-filter blocker — COMPLETE for edit
    * distance k while (max_len − 2) − 3k >= minSharedGrams, a lossy
    * recall knob beyond it, exactly dd02's LSH contract), verified by
    * exact Levenshtein <= `maxDist` (integer, identical in both
    * engines). Scale shape: grams explode over the NAME DOMAIN (never
    * the row count — dedupe to distinct names first), the block join
    * is gram-keyed (never all-pairs), the verify runs on candidates
    * only. */
  /** ONE width-parameterized banded-SimHash kernel behind dd19 (64-bit,
    * 4×16 bands) and dd20 (128-bit, 4×32 bands) — identical plan
    * topology, only the signature expression and band-key width
    * differ: signature at scan speed, ONE posexplode into 4
    * (band_idx, band_val) rows per doc, a band-keyed equi-join (the
    * dd02 LSH shape, never all-pairs), exact hamming over candidates
    * only. Pigeonhole completeness at every width: a hamming<=3 pair
    * differs in at most 3 of the 4 bands, so it shares at least one
    * exact band key. Width choice is a SATURATION contract, enforced
    * by [[simhashWidthFor]]: 64-bit band keys (2^16 values/band)
    * saturate near 10^6 docs (knee measured at 5.7x on the 64x
    * blowup), 128-bit (2^32/band) holds past ~10^9. */
  private[graft] def bandedSimhashPairs(docDf: DataFrame, width: Int): DataFrame = {
    val sig = width match {
      case 64  => simhashBands(col("text"))
      case 128 => simhashWide(col("text"))
      case w   => throw new IllegalArgumentException(s"banded simhash width $w (need 64|128)")
    }
    val sh = docDf.select(col("doc_id"), sig.as("bands"))
    val ex = sh.select(col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("bi", "bv")))
    val a = ex.select(col("bi"), col("bv"), col("doc_id").as("a"), col("bands").as("ba"))
    val b = ex.select(col("bi"), col("bv"), col("doc_id").as("b"), col("bands").as("bb"))
    a.join(b, Seq("bi", "bv")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_bands"),
        first(col("ba")).as("ba"), first(col("bb")).as("bb"))
      .withColumn("hamming",
        aggregate(zip_with(col("ba"), col("bb"),
          (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, v) => acc + v).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("a"), col("b"), col("shared_bands"), col("hamming"))
  }

  /** The simhash width a corpus of `n` docs needs to keep its band
    * keys from saturating — the rule [[graft.api]]'s `simhashPairs`
    * applies so a user cannot pick the saturating tier silently:
    * below 10^6 docs the 64-bit form's 2^16-value band keys stay
    * sparse (mean occupancy < ~15); past that they saturate (the
    * measured 5.7x knee at 3.2M docs) and the 128-bit form's
    * 2^32-value keys take over, good to ~10^9 docs. Past 10^9 no
    * 4-band tier fits — that corpus needs more/wider bands (8×32 for
    * hamming<=7, or sharded corpora), so the auto rule refuses
    * rather than silently saturate. The 16-bit tier (dd03) is never
    * auto-selected: its single 2^16 signature domain is pedagogical
    * below ~10^5 docs only. */
  private[graft] def simhashWidthFor(n: Long): Int =
    if (n < 1000000L) 64
    else if (n < 1000000000L) 128
    else throw new IllegalArgumentException(
      s"simhash auto-width: $n docs exceeds the 4-band 128-bit tier (~10^9); " +
        "widen the banding (8 bands) or shard the corpus")

  /** Width-parameterized SimHash near-dup pairs over a (doc_id, text)
    * frame — the unified kernel behind dd03 (16), dd19 (64) and dd20
    * (128), normalized to the common (a, b, hamming) schema. */
  private[graft] def simhashPairsOf(docDf: DataFrame, width: Int): DataFrame = width match {
    case 16 =>
      val simhash = docDf.select(col("doc_id"), simhashSig(col("text")).as("simhash"))
        .withColumn("block", shiftright(col("simhash"), 8))
      val a = simhash.select(col("doc_id").as("a"), col("simhash").as("sh_a"), col("block"))
      val b = simhash.select(col("doc_id").as("b"), col("simhash").as("sh_b"), col("block"))
      a.join(b, "block").filter(col("a") < col("b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
        .filter(col("hamming") <= 3)
        .select(col("a"), col("b"), col("hamming"))
    case _ =>
      bandedSimhashPairs(docDf, width).select(col("a"), col("b"), col("hamming"))
  }

  /** The q-gram width a registry of `n` distinct names needs to keep
    * its gram blocks from saturating — the dd19/simhashWidthFor rule
    * applied to the fuzzy-match blocker, so [[graft.api]]'s
    * `fuzzyPairs` cannot pick a saturating width silently. The gram
    * KEY DOMAIN is alphabet-bounded (natural-language 3-grams top out
    * around 10^4-10^5 live keys; a w-word product vocabulary around
    * |vocab|·len within words + |vocab|²·(q−1) across boundaries), so
    * a gram shared by k names contributes k²/2 candidates and the
    * block join grows quadratically once n passes the domain size —
    * measured on the fixed-92-word part registry: 3-grams knee
    * superlinearly past ~10^5 names while 4-grams stay flat (the
    * boundary-spanning grams key on word PAIRS, squaring the domain).
    * Each +1 of width multiplies the live key domain by ~|alphabet|
    * and costs d more shared grams of completeness headroom: the
    * count-filter blocker stays COMPLETE for edit distance d while
    * (max_len − q + 1) − d·q >= minSharedGrams, so wider grams need
    * longer names (q=5 with d=3 needs ~22+ chars — registry names,
    * not dictionary words). Past 10^9 names the rule refuses: no
    * single-gram blocker fits — shard the registry or block on a
    * composite key. */
  private[graft] def fuzzyGramWidthFor(n: Long): Int =
    if (n < 100000L) 3
    else if (n < 10000000L) 4
    else if (n < 1000000000L) 5
    else throw new IllegalArgumentException(
      s"fuzzy-match auto-width: $n names exceeds the q=5 gram-block tier (~10^9); " +
        "shard the registry or block on a composite key")

  /** The distinct (name, q-gram) frame — the blocker's key table,
    * shared by [[fuzzyPairs]] and [[fuzzyCandidateBound]] so the
    * guard estimates exactly the join the kernel would run. */
  private[graft] def nameGrams(names: DataFrame, q: Int): DataFrame =
    names.select(col("name"), explode(array_distinct(expr(
      s"transform(sequence(1, greatest(length(name) - ${q - 1}, 1)), i -> substring(name, i, $q))")))
      .as("gram"))

  /** EXACT upper bound on the blocker's candidate-pair volume at gram
    * width `q`: Σ_g df_g·(df_g−1)/2 over the gram-df histogram — the
    * block join's output size before the shared-gram rollup, computed
    * from ONE gram-domain-sized agg (pay-once, like the width
    * count). This is the quantity that saturates: measured on the
    * 16-word part-name vocabulary, 58k names read 7.9e9 at q=3 and
    * still 3.7e9 at q=5 (gram domain tops out at 582 keys — NO width
    * in the ladder escapes a vocabulary-starved registry, so the
    * [[graft.api]] verb refuses superlinear blocks loudly instead of
    * silently running them; see `fuzzyPairs`' guard there). */
  private[graft] def fuzzyCandidateBound(names: DataFrame, q: Int): Long =
    nameGrams(names, q)
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(expr("df * (df - 1) DIV 2")), lit(0L)))
      .head().getLong(0)

  private[graft] def fuzzyPairs(names: DataFrame, maxDist: Int,
                                minSharedGrams: Long,
                                maxGramDf: Long = Long.MaxValue,
                                q: Int = 3): DataFrame = {
    val g0 = nameGrams(names, q)
    // STOP-GRAM cap — the blocker's skew guard: a gram shared by k
    // names contributes k²/2 candidate pairs, so one ubiquitous gram
    // ("the", "ion") makes the block join quadratic in exactly the
    // hot-key way salting exists for. Real ER blockers DROP
    // high-frequency grams (they carry no discriminative signal);
    // `maxGramDf` bounds per-gram group size — candidates lost are
    // only those pairs ALL of whose shared grams are stop-grams, the
    // dd02-style recall knob. Default = uncapped (the tested
    // registries are tiny); SET IT at scale.
    val g = if (maxGramDf == Long.MaxValue) g0 else {
      val keep = g0.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") <= maxGramDf).select(col("gram"))
      g0.join(keep, "gram")
    }
    g.as("x").join(g.as("y"),
        col("x.gram") === col("y.gram") && col("x.name") < col("y.name"))
      .groupBy(col("x.name").as("a"), col("y.name").as("b"))
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minSharedGrams)
      .withColumn("lev", levenshtein(col("a"), col("b")))
      .filter(col("lev") <= maxDist)
  }

  /** dd22's kernel over any (doc_id, text) frame — shared with
    * [[graft.api]]'s `cdcDedup` verb: CONTENT-DEFINED CHUNKING
    * (the rsync/FastCDC boundary rule — the dedup granularity backup
    * systems and blob stores use, robust to insertions where
    * fixed-size blocks shift every later boundary). A cut lands
    * after position p whenever the windowed polynomial hash of the 8
    * code points ending at p reads ≡ 0 mod 16 (H = Σ cp·31^k mod
    * 1,000,003 — pure integer arithmetic the DuckDB oracle recomputes
    * window-by-window), giving ~16-char expected chunks; the doc tail
    * always closes the last chunk; docs shorter than the window are
    * one whole-doc chunk. Boundary rule AND per-chunk digests come
    * from ONE native byte pass ([[graft.plans.CdcChunksExpr]] — the
    * first form md5'd an 8-char substring PER CHARACTER, the
    * BigramCountsExpr hazard class, measured 4.9x on the 64x
    * endpoints harness; the r13 form rolled the cuts natively but
    * still ran one interpreted transform lambda + substr + md5-hex
    * per CHUNK). Digests ride the explode and the chunk-domain
    * exchanges as 16-byte binaries (a bijection of the md5 hex
    * strings — every count/distinct/join downstream is
    * value-identical), and the text never rides the explode (the
    * tx18 discipline). explode_OUTER so InferFiltersFromGenerate
    * does not re-derive the chunk kernel in a vacuous size() filter
    * below the generate (chs is never null, and for len > 0 never
    * empty, so outer ≡ inner here). */
  private[graft] def cdcChunkRows(docDf: DataFrame): DataFrame = {
    docDf.select(col("doc_id"),
        length(col("text")).cast("int").as("len"),
        graft.functions.TextFunctions.cdcChunks(col("text")).as("chs"))
      .filter(col("len") > 0)
      .select(col("doc_id"), col("len").cast("long").as("len"),
        explode_outer(col("chs")).as("ch"))
      .select(col("doc_id"), col("len"),
        col("ch.digest").as("digest"), col("ch.clen").as("clen"))
  }

  /** dd22's report: per doc, how much of it is corpus-duplicated at
    * CDC-chunk granularity. One digest-domain partial-agg'd shuffle
    * (chunk df counts distinct docs), a digest-keyed join back, one
    * per-doc rollup — never all-pairs, text never shuffles. */
  private[graft] def cdcDedupOf(docDf: DataFrame): DataFrame = {
    val rows = cdcChunkRows(docDf)
    val df = rows.groupBy(col("digest"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    rows.join(df, "digest")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        max(col("len")).as("len"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("n_docs") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_chars"), expr("(dup_chars * 1000) DIV len").as("dup_milli"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CONTENT-DEFINED CHUNK DEDUP — the storage-dedup family member
    // next to the text-similarity measures (shingle Jaccard dd02,
    // edit distance dd17, embedding cosine dd05): rsync/FastCDC-style
    // rolling boundaries make chunk identity survive insertions
    // (fixed-size blocks shift every later boundary; tx16/tx18 need
    // line/gram structure — CDC needs nothing but bytes), so shared
    // chunk digests across docs measure the byte-level redundancy a
    // blob store would reclaim. Per doc: chunk count, corpus-
    // duplicated chunk count, duplicated chars, dup fraction in
    // milli. Scale shape: boundary rule + chunk digests fold per-row
    // at scan speed; ONE digest-domain partial-agg'd shuffle, a
    // digest-keyed join back, one per-doc rollup (the tx09 shape at
    // chunk granularity).
    "dd22_cdc_chunks" -> ((s, d) =>
      cdcDedupOf(docs(s, d)).orderBy(col("doc_id"))),

    // LSH BANDING S-CURVE CALIBRATION — the dedup-side member of the
    // tuning-curve family (ss17 tunes LSH tables, ss34 tunes nprobe,
    // ss36 tunes MRL width; this tunes dd02's (bands × rows) split of
    // the 8 MinHash perms — the knob that sets the Jaccard threshold
    // the banding targets): for each config (8×1, 4×2, 2×4), the
    // analytic threshold (1/b)^(1/r) in milli, the MEASURED candidate
    // volume on the actual corpus, how many candidates the full
    // signature estimates as true near-dups (≥ 4/8 agreeing perms ≈
    // Jaccard ≥ 0.5), and the resulting precision milli — the table
    // that picks a banding before a dedup run commits to it (wide
    // bands = high threshold + few candidates; single-perm bands =
    // low threshold + candidate flood). Scale shape: the signature
    // frame computes ONCE (persisted — the dominant cost), ALL THREE
    // configs' band keys emit in a SINGLE config-tagged explode, and
    // ONE (cfg, band, key)-keyed equi-join (never all-pairs) carries
    // every config's candidate fan — collapsing per config in the
    // same aggregation, so the signature frame is scanned twice (the
    // self-join's two sides), not six times.
    "dd23_band_curve" -> ((s, d) => {
      val sig = signatures(docs(s, d)).persist(StorageLevel.MEMORY_AND_DISK)
      val configs = Seq((0, 8, 1, 125L), (1, 4, 2, 500L), (2, 2, 4, 840L))
      val keyStructs = configs.flatMap { case (cfgId, bands, rows, _) =>
        (0 until bands).map(i => struct(lit(cfgId).as("cfg"),
          lit(i).as("band"), bandKey(col("sig"), i * rows, rows).as("bkey")))
      }
      val bf = sig.select(col("doc_id"), col("sig"),
          explode(array(keyStructs: _*)).as("k"))
        .select(col("doc_id"), col("sig"), col("k.cfg").as("cfg"),
          col("k.band").as("band"), col("k.bkey").as("bkey"))
      val x = bf.select(col("doc_id").as("a"), col("sig").as("sig_a"),
        col("cfg"), col("band"), col("bkey"))
      val y = bf.select(col("doc_id").as("b"), col("sig").as("sig_b"),
        col("cfg"), col("band"), col("bkey"))
      val perCfg = x.join(y, Seq("cfg", "band", "bkey"))
        .filter(col("a") < col("b"))
        .select(col("cfg"), col("a"), col("b"),
          foldSumInt(zip_with(col("sig_a"), col("sig_b"),
            (p, q) => when(p === q, 1L).otherwise(0L))).as("m"))
        .distinct()
        .groupBy(col("cfg"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("m") >= 4, 1L).otherwise(0L)).as("n_est_dup"))
      // 3-row config spine LEFT-joins the per-config rollup so a
      // config with zero candidates still reports a 0 row (the
      // empty-corpus totality contract)
      val spine = s.sql(
        """SELECT cfg, CAST(bands AS INT) AS bands,
          |  CAST(band_rows AS INT) AS band_rows,
          |  CAST(threshold_milli AS BIGINT) AS threshold_milli
          |FROM VALUES (0, 8, 1, 125), (1, 4, 2, 500), (2, 2, 4, 840)
          |  AS t(cfg, bands, band_rows, threshold_milli)""".stripMargin)
      spine.join(broadcast(perCfg), Seq("cfg"), "left")
        .select(col("bands"), col("band_rows"), col("threshold_milli"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_est_dup"), lit(0L)).as("n_est_dup"))
        .withColumn("precision_milli",
          expr("CASE WHEN n_candidates > 0 THEN (n_est_dup * 1000) DIV n_candidates" +
            " ELSE 0 END"))
        .orderBy(col("band_rows"))
    }),

    // DUP-CLUSTER SIZE CENSUS — the planning report behind every
    // dedup run ("are my duplicates a long tail of pairs or a few
    // mega-clusters?" decides keep-best strategy, salting needs, and
    // the storage win): per exact-dup cluster size, the cluster
    // count, rows covered, redundant copies (size − 1 per cluster),
    // and each size class's share of total redundancy in integer
    // milli. Runs over the part-name REGISTRY (dd17's record-linkage
    // domain — the corpus whose exact-dup clusters are real; the
    // synthetic documents table is dup-free by construction, which
    // dd01/px04 already report). Scale shape: one partial-agg'd
    // digest shuffle → a size-DOMAIN histogram (bounded by the
    // largest cluster, never corpus rows) → one 1-row redundancy
    // total broadcast back onto it.
    "dd21_cluster_census" -> ((s, d) => {
      val sizes = Tables(s, d, "part")
        .groupBy(md5(col("p_name")).as("h"))
        .agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .withColumn("n_redundant", (col("sz") - 1) * col("n_clusters"))
      val tot = hist.agg(
        sum(col("n_redundant")).as("total_redundant"),
        sum(col("n_docs")).as("total_docs"))
      hist.crossJoin(broadcast(tot))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          col("n_docs"), col("n_redundant"),
          when(col("total_redundant") > 0,
            expr("(n_redundant * 1000) DIV total_redundant"))
            .otherwise(lit(0L)).as("redundancy_share_milli"),
          expr("(n_docs * 1000) DIV total_docs").as("corpus_share_milli"))
        .orderBy(col("cluster_size"))
    }),

    // MinHash + LSH banding: docs sharing any band bucket are candidate
    // near-dups; n_sig_match/NumPerms estimates Jaccard.
    "dd02_minhash_lsh" -> ((s, d) => {
      candidatePairs(docs(s, d)).orderBy(col("a"), col("b"))
    }),

    // SOURCE-PAIR NEAR-DUP MATRIX — dd10's sourceOverlap measures
    // EXACT shared content between sources; this is its near-dup
    // sibling ("which crawls re-host each other's pages, lightly
    // edited?" — the question that decides which source to drop
    // wholesale before doc-level dedup even runs): dd02's banded
    // candidate pairs rolled up to the (source, source) domain, with
    // the signature-estimated true-dup count (≥ 4/8 agreeing perms ≈
    // J ≥ 0.5) and its rate in milli. Scale shape: the pair set is
    // dd02's corpus-linear banded join; the two doc→source joins are
    // doc-keyed co-shuffles ON THE CANDIDATE SET (not the corpus),
    // and the output collapses to the S²-bounded pair domain.
    "dd24_source_neardup" -> ((s, d) => {
      val pairs = candidatePairs(docs(s, d))
      val srcs = docs(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(srcs.select(col("doc_id").as("a"), col("source").as("src_a")), "a")
        .join(srcs.select(col("doc_id").as("b"), col("source").as("src_b")), "b")
        .select(least(col("src_a"), col("src_b")).as("source_1"),
          greatest(col("src_a"), col("src_b")).as("source_2"),
          col("n_sig_match"))
        .groupBy(col("source_1"), col("source_2"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("n_sig_match") >= 4, 1L).otherwise(0L)).as("n_est_dup"))
        .withColumn("est_dup_milli", expr("(n_est_dup * 1000) DIV n_candidates"))
        .orderBy(col("source_1"), col("source_2"))
    }),

    // FUZZY ENTITY MATCHING over the part-name registry (the record-
    // linkage / fuzzy-join staple — typo-distance duplicates that
    // neither shingle-Jaccard nor embedding cosine expresses): the
    // distinct-name domain q-gram-blocks and Levenshtein-verifies
    // (see [[fuzzyPairs]]); each matched pair carries both names'
    // row counts and canonical (min) keys so the merge step downstream
    // has its survivors. One row-domain agg (distinct names), a gram-
    // keyed block join on the NAME domain, exact integer verify on
    // candidates only — never an all-pairs product.
    "dd17_fuzzy_match" -> ((s, d) => {
      val n = Tables(s, d, "part").groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"), min(col("p_partkey")).as("min_key"))
      fuzzyPairs(n.select(col("name")), maxDist = 3, minSharedGrams = 2L)
        .join(n.select(col("name").as("a"), col("n_rows").as("rows_a"),
          col("min_key").as("key_a")), "a")
        .join(n.select(col("name").as("b"), col("n_rows").as("rows_b"),
          col("min_key").as("key_b")), "b")
        .select(col("a"), col("b"), col("lev"), col("shared_grams"),
          col("rows_a"), col("rows_b"), col("key_a"), col("key_b"))
        .orderBy(col("a"), col("b"))
    }),

    // SimHash (16-bit, md5-nibble bit votes) + high-byte blocking +
    // hamming <= 3 verification.
    "dd03_simhash" -> ((s, d) => {
      // Native single-pass kernel (SimHashSigExpr): the round-1 form
      // exploded every token and ran a 16-column vote aggregation — a
      // full O(tokens) shuffle per corpus just to compute a per-doc
      // value. The kernel computes the identical signature at scan
      // speed; the only shuffle left is the tiny block-bucketed join.
      // Scale note: the 16-bit signature bounds the whole key domain
      // at 65536 values, so high-byte blocking caps at 256 blocks —
      // unlike dd05's corpus-sized key space this never needs to be
      // adaptive, but it means dd03's pair output is only meaningful
      // below ~10^6 docs; past that the production form is a 64-bit
      // simhash with 4x16 pigeonhole bands (hamming<=3 guarantee).
      val simhash = Tables.spread(docs(s, d))
        .select(col("doc_id"), simhashSig(col("text")).as("simhash"))
        .withColumn("block", shiftright(col("simhash"), 8))
      val a = simhash.select(col("doc_id").as("a"), col("simhash").as("sh_a"), col("block"))
      val b = simhash.select(col("doc_id").as("b"), col("simhash").as("sh_b"), col("block"))
      a.join(b, "block").filter(col("a") < col("b"))
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
        .filter(col("hamming") <= 3)
        .select(col("a"), col("b"), col("sh_a"), col("sh_b"), col("hamming"))
        .orderBy(col("a"), col("b"))
    }),

    // 64-bit SimHash with 4x16 PIGEONHOLE bands — the production form
    // dd03's own scale note names (Manku et al. 2007, the Google
    // near-dup design): a pair within hamming distance 3 differs in at
    // most 3 of the 4 bands, so it MUST share at least one exact band
    // key — banded candidates are COMPLETE for hamming<=3, the recall
    // guarantee dd03's lossy high-byte blocking lacks, while each band
    // keeps a 65536-value key domain (dd03's single 16-bit signature
    // saturates past ~10^6 docs). Signature is the native single-pass
    // kernel (plans/SimHashBandsExpr — bands as array<int>, never a
    // signed 64-bit value, so no sign-bit hazard in either engine);
    // candidates come from ONE posexplode into 4 (band_idx, band_val)
    // rows per doc + a band-keyed equi-join (the dd02 LSH shape, never
    // all-pairs); exact 64-bit hamming verifies candidates only.
    // dd19's WIDE form — the saturation fix its own scale row calls
    // for (SCALE.md r12: dd19's 65536-value band keys saturate near
    // 10^6 docs, knee measured at 5.7x): 128-bit SimHash with 4x32
    // bands keys a 2^32 domain per band, pushing saturation past
    // ~10^9 docs with the SAME pigeonhole completeness (hamming<=3
    // differs in <=3 of 4 bands => one exact band shared). Identical
    // plan topology to dd19 — only the signature kernel and the band
    // key width change; bands ride as longs (< 2^32) so neither
    // engine touches an int32 sign bit. Hamming<=3 over 128 bits is a
    // far stricter near-identity than over 64, so pairs here are the
    // highest-precision tier of the simhash family.
    "dd20_simhash128_bands" -> ((s, d) =>
      bandedSimhashPairs(Tables.spread(docs(s, d)), width = 128)
        .orderBy(col("a"), col("b"))),

    "dd19_simhash64_bands" -> ((s, d) =>
      bandedSimhashPairs(Tables.spread(docs(s, d)), width = 64)
        .orderBy(col("a"), col("b"))),

    // Exact n-gram Jaccard verification of the MinHash-LSH candidate
    // pairs (the classic two-stage dedup: cheap candidates, exact
    // verify). Only bucket-mates are ever compared — the verify cost is
    // O(candidates), not O(n^2), which is what survives a 100x scale-up.
    "dd04_ngram_jaccard" -> ((s, d) => {
      // NO broadcast hint on the candidate table: it grows O(corpus)
      // (~constant pairs per doc), and a hint forces a driver collect
      // that dies at scale (measured: driver maxResultSize failure on
      // a 64x blowup). The equi-joins key on the high-cardinality
      // doc ids, so they shuffle partition-parallel; AQE still
      // promotes to broadcast whenever the materialized side is
      // actually small.
      val cand = candidateEdges(docs(s, d))
      // r13: shingle SETS as xxhash64 longs off the fused text-slice
      // kernel — the verify's set ops only ever COUNT (intersect/size),
      // so 8-byte longs replace ~30-byte gram strings in the arrays
      // that ride two doc-keyed joins (the WordGramHashesExpr trade).
      // The "exact" Jaccard is therefore exact over the 64-bit keys:
      // two distinct shingles that collide count as one (P ~ n²/2^65
      // per document pair's shingle union).
      val sets = Tables.spread(docs(s, d))
        .select(col("doc_id"), array_distinct(gramXxh(col("text"), 3)).as("sh"))
      sets.select(col("doc_id").as("a"), col("sh").as("sh_a"))
        .join(cand, "a")
        .join(sets.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("uni", size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
        .withColumn("jaccard_milli", expr("(inter * 1000) DIV uni"))
        .filter(col("jaccard_milli") >= 200)
        .select(col("a"), col("b"), col("jaccard_milli"))
        .orderBy(col("a"), col("b"))
    }),

    // Shingle CONTAINMENT verify — catches the superset duplicates
    // Jaccard structurally misses: a doc quoted whole inside a longer
    // one has |A∩B|/|A| ≈ 1 but tiny |A∩B|/|A∪B| (quotes, boilerplate
    // wrappers, concatenated crawls). Same two-stage shape as dd04:
    // LSH candidates only, containment both directions, keep pairs
    // where EITHER side is >= 50% contained. O(candidates) verify.
    "dd07_containment" -> ((s, d) =>
      containmentPairs(docs(s, d), 500L).orderBy(col("a"), col("b"))),

    // Sketch-accuracy AUDIT: MinHash-estimated Jaccard (signature
    // agreement / 8) vs the shingle Jaccard, per candidate pair
    // — the calibration report that justifies trusting dd02's
    // estimates at 100 TB where the exact verify is only run on
    // candidates. Integer milli math end-to-end; same bucket-bounded
    // join shape as dd04 (never all-pairs).
    "dd08_estimate_audit" -> ((s, d) => {
      // Candidate table unhinted for the same O(corpus) reason as dd04.
      val cand = candidatePairs(docs(s, d))
      // r13: shingle SETS as xxhash64 longs off the fused text-slice
      // kernel — the verify's set ops only ever COUNT (intersect/size),
      // so 8-byte longs replace ~30-byte gram strings in the arrays
      // that ride two doc-keyed joins (the WordGramHashesExpr trade).
      // The "exact" Jaccard is therefore exact over the 64-bit keys:
      // two distinct shingles that collide count as one (P ~ n²/2^65
      // per document pair's shingle union).
      val sets = Tables.spread(docs(s, d))
        .select(col("doc_id"), array_distinct(gramXxh(col("text"), 3)).as("sh"))
      sets.select(col("doc_id").as("a"), col("sh").as("sh_a"))
        .join(cand, "a")
        .join(sets.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("uni", size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
        .withColumn("exact_milli", expr("(inter * 1000) DIV uni"))
        .withColumn("est_milli", expr("(n_sig_match * 1000) DIV 8"))
        .withColumn("err_milli", abs(col("est_milli") - col("exact_milli")))
        .select(col("a"), col("b"), col("n_sig_match"), col("est_milli"),
          col("exact_milli"), col("err_milli"))
        .orderBy(col("a"), col("b"))
    }),

    // Dedup CLUSTERING — the actual "keep one per duplicate group"
    // step: connected components over the LSH candidate-pair graph via
    // min-label propagation to a fixpoint. Each iteration is one
    // hash-partitioned join+agg (no driver data); the driver loop only
    // checks a scalar convergence count — the standard Spark iterative
    // pattern (GraphX/Pregel does the same). Converges in O(graph
    // diameter) rounds; near-dup clusters are tiny, so diameter is
    // small at any scale (large-star/small-star is the documented
    // upgrade path for adversarial chains).
    "dd06_dup_clusters" -> ((s, d) => {
      val pairs = candidateEdges(docs(s, d))
      val nodes = docs(s, d).select(col("doc_id").as("node"))
      connectedComponents(nodes, pairs)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // SOFT dedup — keep every copy but DOWN-WEIGHT its training loss
    // by 1/cluster_size (the SoftDeDup alternative to dropping: hard
    // removal loses the distributional signal that a doc was popular;
    // weighting preserves corpus statistics while killing the
    // memorization pressure N identical copies exert). Clusters come
    // from dd06's LSH pair-graph components; weight_milli = 1000 DIV
    // n_members, so unique docs read exactly 1000 and an N-clone
    // cluster's members sum back to ~one doc's worth of loss. Scale
    // shape: the CC fixpoint runs over edge-touched nodes only (see
    // connectedComponents), the size rollup and join are keyed on
    // cluster_id (the corpus shuffles once there; AQE broadcasts the
    // cluster-domain sizes).
    "dd18_soft_dedup" -> ((s, d) =>
      softWeights(docs(s, d)).orderBy(col("doc_id"))),

    // EFFECTIVE-TOKEN BUDGET per source — the dedup-discounted
    // accounting a mixture planner should weight by (the cross-family
    // composition of dd18's SoftDeDup weights and sp13/px02's token
    // budgeting: raw token counts overstate a near-dup-heavy source's
    // real information mass — "how much UNIQUE data do I actually
    // have per source" is the number data-constrained scaling
    // decisions need): each doc's tokens count at its cluster weight
    // (1000 DIV cluster size — unique docs at full weight), rolled up
    // per source with the dup-doc census, the effective/raw ratio,
    // and each source's share of the corpus's total effective mass
    // (shares from effective TOKENS, not milli-tokens — keeps the
    // arithmetic inside the long domain at 10^14 raw tokens). Scale
    // shape: dd18's pair-graph fixpoint (the dominant cost, measured
    // 1.7x at 64x, construction-inclusive) + one doc-keyed co-shuffled join + an
    // |S|-row rollup with a 1-row broadcast.
    "sp14_effective_tokens" -> ((s, d) => {
      val w = softWeights(docs(s, d)).select(col("doc_id"), col("weight_milli"))
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        wordCount(col("text")).cast("long").as("tok"))
      val src = toks.join(w, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("weight_milli") < 1000, 1L).otherwise(0L)).as("n_dup_docs"),
          sum(col("tok")).as("raw_tokens"),
          sum(col("tok") * col("weight_milli")).as("eff_milli"))
        .withColumn("effective_tokens", expr("eff_milli DIV 1000"))
      val tot = src.agg(sum(col("effective_tokens")).as("te"))
      src.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          col("raw_tokens"), col("effective_tokens"),
          expr("eff_milli DIV raw_tokens").as("unique_ratio_milli"),
          expr("(effective_tokens * 1000) DIV te").as("eff_share_milli"))
        .orderBy(col("source"))
    }),

    // Connected components again, but via alternating LARGE-STAR /
    // SMALL-STAR (Kiveris et al., "Connected Components in MapReduce
    // and Beyond") — the adversarial-chain-proof variant: min-label
    // propagation (dd06) needs O(component diameter) rounds, which is
    // fine for shallow near-dup clusters but degenerates on long
    // chains (quote-of-a-quote-of-a-quote corpora); star contraction
    // converges in O(log^2 n) rounds REGARDLESS of diameter. Each
    // round is two hash-partitioned groupBy+join passes over the edge
    // set only (never the corpus); same oracle as dd06 — the
    // components are the same, only the fixpoint differs.
    "dd09_cc_star" -> ((s, d) => {
      val pairs = candidateEdges(docs(s, d))
      val nodes = docs(s, d).select(col("doc_id").as("node"))
      connectedComponentsStar(nodes, pairs)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Canonical selection: keep-BEST per duplicate cluster — the
    // curation upgrade over keep-first (dd01/tx16 keep the lowest id;
    // production pipelines keep the highest-QUALITY copy of each
    // near-dup cluster: the variant without the boilerplate wrapper,
    // the cleaner extraction). Clusters come from the LSH pair graph
    // (dd06's components), quality from tx17's frozen linear model
    // (shared code+constants, so the decision is reproducible across
    // engines). The keeper argmax is a map-side-combinable
    // max(struct(score, -doc_id)) — no window over the corpus, one
    // hash shuffle on cluster_id after the CC fixpoint.
    "dd15_keep_best" -> ((s, d) => {
      val pairs = candidateEdges(docs(s, d))
      val nodes = docs(s, d).select(col("doc_id").as("node"))
      val clusters = connectedComponents(nodes, pairs)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val scored = Curation.qualityScored(Tables.spread(docs(s, d)))
        .select(col("doc_id"), col("score"))
      val j = clusters.join(scored, "doc_id")
      val k = j.groupBy(col("cluster_id"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id"))).as("m"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), (-col("m.neg_id")).as("keeper_id"), col("n_members"))
      j.join(k, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("score"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("keep"), col("n_members"))
        .orderBy(col("doc_id"))
    }),

    // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    // MOSS algorithm — the position-aware local fingerprinting that
    // code/plagiarism dedup uses where MinHash's global signature
    // can't localize): per doc, the 3-gram hash sequence slides a
    // w=4 window and each window contributes its MINIMUM hash
    // (rightmost on ties — the paper's robust-winnowing rule), so
    // any shared run of >= w+k-1 tokens is GUARANTEED to share a
    // fingerprint (MinHash only matches probabilistically). Pairs =
    // docs sharing >= 2 selected fingerprints. Scale shape: the
    // window-min is pure per-row array compute at scan speed (no
    // window function, no position explode), fingerprints are ~n/w
    // hashes per doc, and the pair stage is the dd01/dd10 group-
    // explode (sorted doc set per fingerprint, pairCombos) — never a
    // corpus self-join; one exchange on the fingerprint domain + one
    // on pairs. md5 grams keep both engines bit-identical.
    "dd16_winnowing" -> ((s, d) =>
      winnowPairs(Tables.spread(docs(s, d))).orderBy(col("a"), col("b"))),

    // Cross-source duplicate OVERLAP matrix: how much of each source
    // pair is shared content (the "is CommonCrawl-v2 just v1 again?"
    // audit run before mixing corpora). Exact form: distinct
    // (source, shingle-md5) -> self-join on the shingle -> per-pair
    // intersection counts + containment/Jaccard milli. Plan: one
    // map-side-combinable distinct, one equi-join on the 16-byte hash
    // whose groups are per-shingle source lists (tiny), one
    // partial-agg'd pair rollup — no all-pairs over docs, ever. At
    // 100 TB the same pass drops in HLL/theta sketches per source
    // (approx_count_distinct + sketch intersection) when exact counts
    // stop being worth the shuffle; the exact form stays the oracle.
    "dd10_source_overlap" -> ((s, d) =>
      sourceOverlap(docs(s, d)).orderBy(col("source_a"), col("source_b"))),

    // The SKETCH form of dd10 — the 100 TB path: one scan builds a
    // DataSketches HLL sketch per source over the shingle hashes
    // (partial-mergeable, so the only exchange carries S sketches of
    // a few KB each — the corpus never shuffles on the shingle);
    // pairwise overlap is estimated by inclusion-exclusion over
    // merged sketches (|A∩B| ≈ |A| + |B| - |A∪B|) on the S-row
    // sketch table. Sketch INTERNALS are engine-specific, so raw
    // estimates can never hash-match an oracle — instead (q26
    // precedent) the query also computes the EXACT twin (dd10's
    // overlap matrix) and gates its own estimates against it: output
    // rows are exact counts plus within-tolerance booleans, identical
    // across engines whenever both sketch families are calibrated.
    // The per-source gate is 5%; the intersection gate scales with
    // UNION size (inclusion-exclusion error is three union-sized
    // estimate errors, not an intersection-sized one — the structural
    // weakness dd13's direct theta intersection fixes). At 100 TB
    // production callers run the sketch half alone; the exact twin
    // here is what proves it.
    "dd11_hll_overlap" -> ((s, d) => gatedSketchOverlap(docs(s, d), theta = false)),

    // dd11 with THETA sketches — the other sketch family the dd10
    // comment names, landed natively in Spark 4.1. Theta sketches
    // (KMV samples, DataSketches ThetaIntersection) support DIRECT
    // set intersection, so the shared-shingle estimate needs no
    // inclusion-exclusion: its error is bounded by the intersection
    // sketch itself, not by three union-sized estimates — dd11's
    // structural weakness on small overlaps of large sources. Same
    // 100 TB shape: one partial-mergeable agg per source, S few-KB
    // sketches cross the wire, the pairwise stage is S² rows.
    // Oracle-checked like dd11: exact twin in-query, each engine
    // gates ITS OWN sketch family (DuckDB has no theta sketch, so its
    // oracle gates its HLL estimates — the booleans agree whenever
    // both families are calibrated, which is exactly the claim under
    // test). Theta intersection is direct, but its standard error is
    // still driven by the sketches' retention thresholds (union-scale
    // K-th minimums), so the gate stays union-scaled like dd11's.
    "dd13_theta_overlap" -> ((s, d) => gatedSketchOverlap(docs(s, d), theta = true)),

    // INCREMENTAL dedup — the production daily-increment shape: an
    // arriving batch (doc_id % 5 == 0 here) is checked against the
    // ESTABLISHED corpus without ever touching the old text. The old
    // corpus is represented purely by its fingerprints — the distinct
    // content-hash set (exact dups) and the distinct LSH (band, key)
    // set (near-dups) — both a few bytes per doc, produced once, and
    // in production persisted as a fingerprint topic. The increment
    // joins those fingerprint sets on short hash keys (hash-
    // partitioned, partial-agg'd), so daily cost scales with the
    // INCREMENT, not the corpus: the full-recompute alternative
    // re-shingles 100 TB every day.
    "dd12_incremental" -> ((s, d) => {
      val all = docs(s, d)
      val old = all.filter(col("doc_id") % 5 =!= 0)
      val fresh = all.filter(col("doc_id") % 5 === 0)
      val oldFp = old.select(md5(col("text")).as("chash")).distinct()
      def bandsOf(df: DataFrame) = signatures(df)
        .select(col("doc_id"), posexplode(array((0 until NumPerms / BandWidth).map(b =>
          bandKey(col("sig"), b * BandWidth, BandWidth)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      val oldBands = bandsOf(old).select(col("band"), col("bkey")).distinct()
      val bandHits = bandsOf(fresh)
        .join(oldBands.withColumn("hit", lit(1L)), Seq("band", "bkey"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_band_hits"))
      fresh.select(col("doc_id"), md5(col("text")).as("chash"))
        .join(oldFp.withColumn("exact", lit(true)), Seq("chash"), "left")
        .join(bandHits, Seq("doc_id"))
        .select(col("doc_id"),
          coalesce(col("exact"), lit(false)).as("is_exact_dup"),
          col("n_band_hits"),
          (coalesce(col("exact"), lit(false)) || col("n_band_hits") > 0).as("flagged"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered incremental dedup — dd12's exact half at the
    // shape that survives a corpus too large to shuffle per increment.
    // dd12 distincts the WHOLE established corpus's fingerprints
    // before joining (one corpus-wide shuffle per daily batch); here
    // the increment's fingerprints are folded into a broadcast Bloom
    // filter (few KB–MB regardless of corpus size, built over the
    // SMALL side), and the corpus scan is pruned by `might_contain`
    // BEFORE any exchange — non-matching corpus rows (the vast
    // majority) die at scan speed, and only the survivors (true
    // matches + the filter's ~0.05% false positives) are distinct'd
    // and joined back. False positives cost a few extra joined rows,
    // never correctness: the final equi-join is exact, so the output
    // is identical to the unfiltered plan and fully oracle-checkable.
    // At 100 TB: per-increment cost = one corpus scan (no shuffle) +
    // a shuffle of ~|increment| survivors, vs dd12's corpus-wide
    // distinct. Spark's own runtime row-level filters apply the same
    // trick automatically only for selective broadcast-able cases;
    // staging it explicitly makes the plan deterministic.
    "dd14_bloom_incremental" -> ((s, d) => {
      import graft.functions.BloomFunctions._
      val all = docs(s, d)
      val fresh = all.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), md5(col("text")).as("chash"))
      // Size the filter from catalog/footer stats (metadata walk, no
      // scan job — the dd05 pattern); increment ≈ rows/5 here. 16
      // bits/item ≈ 0.05% FP at optimal k.
      val items = graft.sources.Stats.parquetRowCount(s, s"$d/documents.parquet")
        .getOrElse(all.count()) / 5 + 64
      val bloom = fresh.agg(bloomAgg(col("chash"), items, items * 16).as("bf"))
      val survivors = all.filter(col("doc_id") % 5 =!= 0)
        .select(md5(col("text")).as("chash"))
        .filter(mightContain(col("chash"), bloom))
        .distinct()
      fresh.join(survivors.withColumn("hit", lit(true)), Seq("chash"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_exact_dup"))
        .orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-dup, bucket-bounded: candidates come from a
    // hyperplane signature banded 4 x `bits`, joined on (band,
    // bandkey) — exactly the two-stage pattern dd02/dd04 apply to
    // text. The round-1 form was label-blocked all-pairs (O(n²/L));
    // the round-4 discovery is that a FIXED band width is the same
    // trap one scale later: with 8-bit keys the bucket space is 256
    // per band forever, occupancy grows n/256, and bucket-mate pairs
    // grow n² (measured: a 64x corpus blowup produced 28 GB of
    // candidate shuffle from a 33 MB input). Band width therefore
    // scales as bits = max(8, ceil(log2(n/64))): occupancy pins at
    // ~64, the pair stage stays O(n). Wider buckets are NEVER the
    // recall lever — recall at scale comes from more tables (ss07),
    // each O(n). The n that sizes the key space comes from parquet
    // FOOTER stats (graft.sources.Stats — a metadata walk, no scan
    // job; the catalog-stats path a production table serves), with a
    // real count() only as the fallback for non-parquet sources.
    "dd05_embed_neardup" -> ((s, d) => {
      val e = Tables.spread(Tables(s, d, "embeddings"))
      val n = graft.sources.Stats.parquetRowCount(s, s"$d/embeddings.parquet")
        .getOrElse(e.count())
      val bits = math.min(24, math.max(8,
        math.ceil(math.log(math.max(1L, n / 64).toDouble) / math.log(2.0)).toInt))
      val cand = dd05Candidates(e, bits)
      e.select(col("vec_id").as("a"), col("embedding").as("ea"))
        .join(cand, "a")
        .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
        .withColumn("cos_sim", cosine(col("ea"), col("eb")))
        .filter(col("cos_sim") > 0.35)
        .select(col("a"), col("b"), col("cos_sim"))
        .orderBy(col("a"), col("b"))
    })
  )

  /** dd05's CANDIDATE stage: 4 hyperplane-signature bands of `bits` bits
    * each, banded equi-join, distinct (a < b) pairs. The caller picks
    * `bits` from the corpus size (occupancy pins at ~64, so
    * candidates per row are constant by construction — the volume
    * grows with the corpus, the per-row and per-candidate costs must
    * not). */
  private[graft] def dd05Candidates(e: DataFrame, bits: Int): DataFrame = {
    val planes = Similarity.planesN(4 * bits)
    val bandCols = (0 until 4).map { band =>
      (0 until bits).map { j =>
        when(dotConst(col("embedding"), planes(band * bits + j)) > 0.0,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).cast("int").as(s"bk$band")
    }
    // persist: tiny (vec_id, band, bkey) table; both sides of the
    // self-join reuse it so the 32 hyperplane dots run once per row.
    val bands = e.select(col("vec_id") +: bandCols: _*)
      .select(col("vec_id"), posexplode(array((0 until 4).map(b => col(s"bk$b")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val x = bands.select(col("vec_id").as("a"), col("band"), col("bkey"))
    val y = bands.select(col("vec_id").as("b"), col("band"), col("bkey"))
    // Unhinted: the pair table is O(corpus) — see dd04's note.
    x.join(y, Seq("band", "bkey")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Directional shingle-containment pairs over LSH candidates (the
    * dd07 operator, reusable over any (doc_id, text) frame): keeps
    * pairs where either side is at least `minMilli`/1000 contained in
    * the other. */
  def containmentPairs(docDf: DataFrame, minMilli: Long): DataFrame = {
    // Candidate table unhinted for the same O(corpus) reason as dd04.
    val cand = candidateEdges(docDf)
    val sets = Tables.spread(docDf)
      .select(col("doc_id"), array_distinct(gramXxh(col("text"), 3)).as("sh"))
    sets.select(col("doc_id").as("a"), col("sh").as("sh_a"))
      .join(cand, "a")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("cont_a_milli", expr("(inter * 1000) DIV CAST(size(sh_a) AS BIGINT)"))
      .withColumn("cont_b_milli", expr("(inter * 1000) DIV CAST(size(sh_b) AS BIGINT)"))
      .filter(greatest(col("cont_a_milli"), col("cont_b_milli")) >= minMilli)
      .select(col("a"), col("b"), col("cont_a_milli"), col("cont_b_milli"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 §3, the
    * MOSS algorithm) over any (doc_id, text) frame: each doc's k-gram
    * md5 sequence slides a window of `w` hashes and every window
    * contributes its MINIMUM hash (rightmost position on ties — the
    * paper's robust-winnowing rule), giving the guarantee MinHash
    * lacks: any shared token run of length >= w+k-1 selects at least
    * one shared fingerprint in both docs. Returns distinct
    * (doc_id, gh). Per-row array compute at scan speed — no window
    * function, no position explode. */
  def winnowFingerprints(docDf: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    // Native single-pass kernel ([[graft.plans.WinnowTextExpr]], the
    // r13 text-slice form of WinnowSelectExpr): grams are hashed
    // straight off the text bytes (no words array, no interpreted
    // shingle transform, no per-window gram string), window minima
    // from a monotonic deque (ties to the rightmost position — the
    // paper's robust rule), distinct selected digests out as 16-byte
    // binaries (a bijection of the old hex strings — the fingerprints
    // never leave winnowPairs, so the group-by/count structure is
    // value-identical and the gh exchange carries half the bytes).
    // The composed HOF form was an O(n² w) trap: Catalyst inlined the
    // gram-hash projection into every element_at of the window lambda,
    // re-hashing the whole array per element in interpreted eval —
    // measured ~100 s for sf0.001's documents vs sub-second here.
    docDf
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graft.bridge.column(
          graft.plans.WinnowTextExpr(
            org.apache.spark.sql.graft.bridge.expression(col("text")), k, w))).as("gh"))

  /** Doc pairs sharing >= `minShared` winnowing fingerprints (dd16's
    * kernel): fingerprint groups -> sorted doc set -> pair explode —
    * the dd01/dd10 discipline, never a corpus self-join. */
  def winnowPairs(docDf: DataFrame, k: Int = 3, w: Int = 4,
                  minShared: Long = 2L): DataFrame = {
    val pairCombos = flatten(transform(col("ds"), (a, ai) =>
      transform(slice(col("ds"), ai + lit(2), size(col("ds")) - ai - 1),
        b => struct(a.as("a"), b.as("b")))))
    winnowFingerprints(docDf, k, w)
      .groupBy(col("gh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(pairCombos).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Integer left-fold sum (exact). */
  private def foldSumInt(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + x)

  /** Connected components over an undirected pair graph via min-label
    * propagation to a fixpoint: `nodes` = one `node` column, `pairs` =
    * (a, b) edges (direction irrelevant). Returns (node, label) where
    * label = the component's minimum node id.
    *
    * The fixpoint loop runs ONLY over edge-touched nodes: in a dedup
    * graph almost every node is isolated (it keeps its own label
    * forever), so dragging the full corpus through every round would
    * re-join 100 TB ~diameter times for nothing. Touched nodes are
    * bounded by 2x the pair count — the iterative joins stay tiny at
    * any corpus scale — and the isolated majority is labeled by ONE
    * final left join. Each round is one hash-partitioned join+agg (no
    * row data on the driver — the loop checks only a scalar
    * convergence count); rounds = O(component diameter), and near-dup
    * clusters are shallow at any scale. Large-star/small-star is the
    * documented upgrade for adversarially long chains. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    // localCheckpoint (eager), NOT persist: each round's frame embeds
    // the previous round's logical plan, so lineage DOUBLES per round
    // and the driver's analysis/optimization time — not execution —
    // comes to dominate the fixpoint (measured: per-round wall grew
    // 1.3 s → 5.3 s while `changed` shrank 493 → 1). Checkpointing
    // truncates the plan to a materialized leaf each round; on a
    // cluster the same call (or checkpoint() with a reliable dir) is
    // the standard iterative-algorithm pattern.
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("node")).agg(min(col("nl")).as("nbr_label"))
      // carry the OLD label through the checkpoint so convergence is a
      // filter+count over the materialized blocks — the previous form
      // re-JOINED next against labels per round (a whole extra
      // shuffle + action each iteration), the same per-round driver-
      // job excess the dd09 star loop shed in its one-shuffle rework
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          col("label").as("old"))
        .localCheckpoint(true)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    // isolated nodes (the vast majority of a dedup corpus) label
    // themselves in one pass — they never enter the fixpoint loop
    nodes.join(labels.withColumnRenamed("node", "_t"),
        nodes("node") === col("_t"), "left")
      .select(nodes("node"), coalesce(col("label"), nodes("node")).as("label"))
  }

  /** dd18's whole pipeline over any (doc_id, text) frame — the
    * SoftDeDup weight kernel shared by the batch query and
    * [[graft.api]]'s `softDedupWeights` verb: LSH pair-graph
    * components (dd06's machinery), cluster sizes, and the per-doc
    * loss weight 1000 DIV n_members (unique docs read exactly 1000). */
  private[graft] def softWeights(docDf: DataFrame): DataFrame = {
    val pairs = candidateEdges(docDf)
    val nodes = docDf.select(col("doc_id").as("node"))
    val comp = connectedComponents(nodes, pairs)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val sizes = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    comp.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        expr("1000 DIV n_members").as("weight_milli"))
  }

  /** Cross-source shingle-overlap matrix (the dd10 operator body,
    * reusable over any (source, text) frame): per source pair, the
    * count of shared distinct shingles + Jaccard/containment milli.
    *
    * Shape: a hash distinct collapses (source, shingle) duplicates
    * first (cheap partial agg), then ONE groupBy on the shingle hash
    * builds each shingle's (deduped, sorted) source set, and the pair
    * counts come from exploding the per-shingle source COMBINATIONS
    * (c(h) choose 2, and c is bounded by the source count, dozens
    * not millions). The first cut self-joined the (source, h)
    * table with itself on h; at sf0.1 AQE turned the 2M-row build
    * side into a broadcast hash relation rebuilt per task — 65 s
    * for what this single-shuffle form does in ~2 s, and a plan
    * that only gets worse with corpus size. */
  /** dd11/dd13 body: exact overlap twin + per-engine sketch gates from
    * ONE shingle pass.
    *
    * The distinct (source, shingle-md5) set `e` is materialized once
    * and feeds BOTH halves — the exact matrix (groupBy shingle →
    * per-shingle source lists → pair rollup, same math as
    * [[sourceOverlap]]) and the per-source sketch agg. The r6 rework
    * of these queries from raw estimates to q26-style gated output
    * would otherwise have scanned + shingled the corpus twice; at
    * 100 TB the shingle explosion IS the dominant cost, so sharing it
    * matters more than anything downstream (everything after `e` is
    * partial-mergeable aggs and an S²-row pair join).
    *
    * Gates: per-source cardinality within 5% (lgK=14 RSE ~0.8% —
    * wide headroom); the intersection gate scales with UNION size
    * (inclusion-exclusion error is three union-sized estimate errors;
    * theta intersection error is likewise driven by union-scale
    * retention thresholds), floored at 32 for near-disjoint pairs.
    */
  private def gatedSketchOverlap(docDf: DataFrame, theta: Boolean): DataFrame = {
    // r13: the shingle stage is the fused text-slice kernel — 16-byte
    // binary digests (a bijection of the md5 hex strings, so every
    // exact count below is value-identical) with no words array, no
    // interpreted shingle transform, no per-window gram/hex string;
    // the distinct and the two group-bys carry half the key bytes.
    // The theta/HLL ESTIMATES hash the binary, not the hex, so above a
    // sketch's lgK=14 exact region they can differ from the hex-input
    // estimates (same error bound, different sample).
    val e = Tables.spread(docDf)
      .select(col("source"), explode(gramMd5(col("text"), 3)).as("h"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = e.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairCombos = flatten(transform(col("srcs"), (a, ai) =>
      transform(slice(col("srcs"), ai + lit(2), size(col("srcs")) - ai - 1),
        b => struct(a.as("source_a"), b.as("source_b")))))
    val exact = e.groupBy(col("h"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(pairCombos).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
    val sk = e.groupBy(col("source"))
      .agg((if (theta) theta_sketch_agg(col("h"), 14) else hll_sketch_agg(col("h"), 14)).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    val pairs = a.join(b, col("source_a") < col("source_b"))
    val est =
      if (theta)
        pairs.select(col("source_a"), col("source_b"),
          theta_sketch_estimate(col("sk_a")).cast("long").as("est_a"),
          theta_sketch_estimate(col("sk_b")).cast("long").as("est_b"),
          theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
            .cast("long").as("est_shared"))
      else
        pairs.select(col("source_a"), col("source_b"),
          hll_sketch_estimate(col("sk_a")).as("est_a"),
          hll_sketch_estimate(col("sk_b")).as("est_b"),
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_union"))
          .withColumn("est_shared",
            greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
    exact.join(est, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        (abs(col("est_a") - col("n_a")) <= col("n_a") * lit(0.05))
          .as("a_within_5pct"),
        (abs(col("est_b") - col("n_b")) <= col("n_b") * lit(0.05))
          .as("b_within_5pct"),
        (abs(col("est_shared") - col("n_shared"))
          <= greatest((col("n_a") + col("n_b") - col("n_shared")) * lit(0.10), lit(32.0)))
          .as("shared_within_tol"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def sourceOverlap(docDf: DataFrame): DataFrame = {
    // distinct (source, h) BEFORE the per-shingle rollup: the hash
    // dedup's partial aggregation is cheaper than feeding the raw
    // shingle explosion straight into collect_set's object buffers —
    // measured 18.4 s direct vs ~9 s through the deduped set on the
    // 64x blowup corpus (the shape gatedSketchOverlap landed with).
    val byH = Tables.spread(docDf)
      .select(col("source"), explode(gramMd5(col("text"), 3)).as("h"))
      .distinct()
      .groupBy(col("h"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = byH.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairCombos = flatten(transform(col("srcs"), (a, ai) =>
      transform(slice(col("srcs"), ai + lit(2), size(col("srcs")) - ai - 1),
        b => struct(a.as("source_a"), b.as("source_b")))))
    byH.filter(size(col("srcs")) >= 2)
      .select(explode(pairCombos).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .withColumn("jaccard_milli", expr("(n_shared * 1000) DIV (n_a + n_b - n_shared)"))
      .withColumn("cont_a_milli", expr("(n_shared * 1000) DIV n_a"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard_milli"), col("cont_a_milli"))
  }

  /** Sketch-only PRODUCTION form of [[sourceOverlap]] — the same
    * (source_a, source_b, n_a, n_b, n_shared, jaccard_milli,
    * cont_a_milli) schema with theta-sketch ESTIMATES (lgK=14, RSE
    * ~0.8%; exact below the 2^14 retention threshold) in place of the
    * exact distinct-shingle counts. The scale win is structural, not
    * approximation-for-its-own-sake: theta sketches are
    * duplicate-insensitive, so the shingle stream feeds the per-source
    * agg DIRECTLY — no corpus-sized distinct() and no per-shingle
    * collect_set rollup (the two stages that make the exact form's
    * 64x curve read 3.1x). One shingle scan partial-merges into S
    * few-KB sketch buffers; everything downstream is an S²/2 pair
    * frame of intersections. */
  def sourceOverlapSketch(docDf: DataFrame): DataFrame = {
    val sk = Tables.spread(docDf)
      .select(col("source"), explode(gramMd5(col("text"), 3)).as("h"))
      .groupBy(col("source"))
      .agg(theta_sketch_agg(col("h"), 14).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        theta_sketch_estimate(col("sk_a")).cast("long").as("n_a"),
        theta_sketch_estimate(col("sk_b")).cast("long").as("n_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .cast("long").as("n_shared"))
      .withColumn("jaccard_milli", expr("(n_shared * 1000) DIV (n_a + n_b - n_shared)"))
      .withColumn("cont_a_milli", expr("(n_shared * 1000) DIV n_a"))
  }

  /** The overlap form a corpus of `n` docs should use — the
    * simhashWidthFor routing rule applied to source overlap, so
    * [[graft.api]]'s `sourceOverlap` cannot ride the exact form into
    * its corpus-sized cost silently: the exact matrix's distinct
    * (source, shingle) set and per-shingle source-list rollup are
    * corpus-sized BY DEFINITION (its 64x blowup reads 3.1x — the
    * worst surviving exact-form curve, SCALE.md), while the sketch
    * form's wire cost is S sketch buffers at any corpus size
    * (dd11/dd13 measure ~1x). Below 10^6 docs the exact audit is
    * affordable and strictly better (counts, not estimates); above,
    * the 0.8%-RSE estimate is the engineering answer. Explicit
    * mode="exact" overrides — loudly paying the corpus-sized cost is
    * allowed, picking it by accident is not. */
  private[graft] def sourceOverlapModeFor(n: Long): String =
    if (n < 1000000L) "exact" else "sketch"

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al. 2014). Same contract as
    * [[connectedComponents]]: `nodes` one `node` column, `pairs` =
    * undirected (a, b) edges, returns (node, label) with label = the
    * component's minimum node id.
    *
    * Why a second fixpoint: min-label propagation converges in
    * O(diameter) rounds — perfect for shallow near-dup clusters,
    * pathological for long chains. Star contraction halves tree
    * heights every alternation (O(log^2 n) rounds on ANY topology):
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller neighbors AND itself
    *    to that minimum.
    * Both steps are one groupBy(min) + one equi-join over the EDGE
    * set (the corpus never enters the loop), both preserve
    * connectivity, and the fixpoint is reached when the edge set is
    * stable — at that point edges are exactly (member -> root) stars.
    * localCheckpoint truncates per-round lineage exactly like dd06. */
  def connectedComponentsStar(nodes: DataFrame, pairs: DataFrame,
                              maxIter: Int = 20): DataFrame = {
    var edges = pairs.select(col("a").as("u"), col("b").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: over the symmetric neighbor view, m(u) = min of the
      // closed neighborhood; larger neighbors re-attach to m(u).
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: orient every edge max->min; each node links its
      // smaller neighbors and itself to the minimum one.
      val oriented = large
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
      val mins2 = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val smallRaw = oriented.join(mins2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
      // fold the small-star DISTINCT and the symmetric-difference
      // convergence check into ONE grouped pass: tag new edges vs the
      // previous set, group by (u, v), and checkpoint the tagged
      // frame — a single shuffle action per round materializes both
      // the next edge set AND the diff markers. The convergence read
      // and next round's input are then filters over the CACHED
      // checkpoint blocks (no recompute, no second shuffle), cutting
      // the loop's driver-coordinated shuffle jobs from two to one —
      // the scheduler-contention exposure a loud bench window showed.
      val merged = smallRaw.select(col("u"), col("v"), lit(1).as("t"))
        .union(edges.select(col("u"), col("v"), lit(2).as("t")))
        .groupBy(col("u"), col("v"))
        .agg(max(when(col("t") === 1, 1).otherwise(0)).as("in_new"),
          max(when(col("t") === 2, 1).otherwise(0)).as("in_old"))
        .localCheckpoint(true)
      converged = merged.filter(col("in_new") =!= col("in_old")).isEmpty
      edges = merged.filter(col("in_new") === 1).select(col("u"), col("v"))
      iter += 1
    }
    // at the fixpoint every edge is (member -> component root)
    val labels = edges.select(col("u").as("node"), col("v").as("label"))
      .union(edges.select(col("v").as("node"), col("v").as("label")).distinct())
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    nodes.join(labels.withColumnRenamed("node", "_t"),
        nodes("node") === col("_t"), "left")
      .select(nodes("node"), coalesce(col("label"), nodes("node")).as("label"))
  }

  // ---- oracle SQL ----

  private val shingleSql =
    """CASE WHEN len(words) >= 3 THEN
      |   list_transform(generate_series(1, len(words) - 2),
      |     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
      |  ELSE [array_to_string(words, ' ')] END""".stripMargin

  /** Shared oracle prelude: documents → shingles → 2 salted digests →
    * 8-perm minhash signatures → (band, bandkey) rows. */
  private lazy val candPreludeSql: String = {
    val minhashes = (0 until NumPerms).map { p =>
      val src = if (p < 4) "h0" else "h1"
      s"list_aggregate(list_transform($src, h -> substr(h, ${1 + 8 * (p % 4)}, 8)), 'min')"
    }.mkString(",\n        |  ".stripMargin)
    val bandkeys = (0 until NumPerms / BandWidth).map(b =>
      s"md5(sig[${b * BandWidth + 1}] || '|' || sig[${b * BandWidth + 2}])").mkString(", ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |shs AS (SELECT doc_id, $shingleSql AS sh FROM w),
       |hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS h0,
       |  list_transform(sh, s -> md5('x' || s)) AS h1 FROM shs),
       |sigs AS (SELECT doc_id, [
       |  $minhashes] AS sig
       | FROM hs),
       |bands AS (SELECT doc_id, sig, unnest(generate_series(0, ${NumPerms / BandWidth - 1})) AS band,
       |  unnest([$bandkeys]) AS bkey FROM sigs)""".stripMargin
  }

  /** dd23 oracle: each config re-bands the SAME sigs CTE with its own
    * md5('|'-joined slice) key list and replays the candidate join +
    * agreement census. */
  private lazy val bandCurveSql: String = {
    def bandsList(bands: Int, rows: Int): String =
      (0 until bands).map(i => "md5(" +
        (0 until rows).map(j => s"sig[${i * rows + j + 1}]").mkString(" || '|' || ") +
        ")").mkString(", ")
    def cfgSql(bands: Int, rows: Int, thr: Int): String =
      s"""SELECT CAST($bands AS INT) AS bands, CAST($rows AS INT) AS band_rows,
         | CAST($thr AS BIGINT) AS threshold_milli,
         | CAST(count(*) AS BIGINT) AS n_candidates,
         | CAST(coalesce(sum(CASE WHEN m >= 4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_est_dup,
         | CAST(CASE WHEN count(*) > 0
         |   THEN (sum(CASE WHEN m >= 4 THEN 1 ELSE 0 END) * 1000) // count(*)
         |   ELSE 0 END AS BIGINT) AS precision_milli
         |FROM (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(len(list_filter(generate_series(1, $NumPerms), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS m
         | FROM (SELECT doc_id, sig, unnest(generate_series(0, ${bands - 1})) AS band,
         |        unnest([${bandsList(bands, rows)}]) AS bkey FROM sigs) x
         | JOIN (SELECT doc_id, sig, unnest(generate_series(0, ${bands - 1})) AS band,
         |        unnest([${bandsList(bands, rows)}]) AS bkey FROM sigs) y
         |  ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
    s"""WITH $candPreludeSql
       |SELECT * FROM (
       |${cfgSql(8, 1, 125)}
       |UNION ALL
       |${cfgSql(4, 2, 500)}
       |UNION ALL
       |${cfgSql(2, 4, 840)})
       |ORDER BY band_rows""".stripMargin
  }

  val oracle: Map[String, String] = baseOracle +
    // same components as dd06, different fixpoint — one ground truth
    ("dd09_cc_star" -> baseOracle("dd06_dup_clusters")) +
    ("dd23_band_curve" -> bandCurveSql) +
    // dd22: the oracle recomputes the CDC boundary rule window-by-
    // window (the polynomial Σ ord·31^k mod 1,000,003 over each
    // 8-char window, cut when ≡ 0 mod 16 — the 31-power constants
    // are 31^7..31^0 mod the prime), rebuilds every chunk from the
    // cut list, and replays the digest-df join — engine-exact because
    // boundaries, digests and lengths are all integer/string ops both
    // engines share; the Spark side rolls the same hash incrementally
    // in the native CdcCutsExpr kernel.
    ("dd22_cdc_chunks" ->
      """WITH t AS (
        | SELECT doc_id, text AS t, CAST(length(text) AS INT) AS ln
        | FROM documents WHERE length(text) > 0),
        |c AS (
        | SELECT doc_id, t, ln,
        |  CASE WHEN ln >= 8 THEN list_filter(generate_series(8, ln),
        |    p -> (ord(substr(t, p - 7, 1)) * 531575
        |        + ord(substr(t, p - 6, 1)) * 501020
        |        + ord(substr(t, p - 5, 1)) * 629067
        |        + ord(substr(t, p - 4, 1)) * 923521
        |        + ord(substr(t, p - 3, 1)) * 29791
        |        + ord(substr(t, p - 2, 1)) * 961
        |        + ord(substr(t, p - 1, 1)) * 31
        |        + ord(substr(t, p, 1))) % 1000003 % 16 = 0)
        |   ELSE CAST([] AS INTEGER[]) END AS cuts
        | FROM t),
        |e AS (
        | SELECT doc_id, t, ln,
        |  CASE WHEN len(cuts) > 0 AND cuts[-1] = ln THEN cuts
        |       ELSE list_append(cuts, ln) END AS ends
        | FROM c),
        |ch AS (
        | SELECT doc_id, ln,
        |  unnest(list_transform(generate_series(1, len(ends)), j ->
        |    struct_pack(
        |      digest := md5(substr(t,
        |        (CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END) + 1,
        |        ends[j] - (CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END))),
        |      clen := CAST(ends[j] -
        |        (CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END) AS BIGINT)))) AS u
        | FROM e),
        |r AS (SELECT doc_id, ln, u.digest AS digest, u.clen AS clen FROM ch),
        |df AS (
        | SELECT digest, count(DISTINCT doc_id) AS n_docs FROM r GROUP BY 1)
        |SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        | CAST(sum(CASE WHEN df.n_docs >= 2 THEN r.clen ELSE 0 END) AS BIGINT) AS dup_chars,
        | CAST((sum(CASE WHEN df.n_docs >= 2 THEN r.clen ELSE 0 END) * 1000)
        |   // max(r.ln) AS BIGINT) AS dup_milli
        |FROM r JOIN df USING (digest)
        |GROUP BY 1 ORDER BY r.doc_id""".stripMargin) +
    ("dd21_cluster_census" ->
      """WITH s AS (
        | SELECT md5(p_name) AS h, CAST(count(*) AS BIGINT) AS sz
        | FROM part GROUP BY 1),
        |hist AS (
        | SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * count(*) AS BIGINT) AS n_redundant
        | FROM s GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n_redundant) AS BIGINT) AS total_redundant,
        |  CAST(sum(n_docs) AS BIGINT) AS total_docs FROM hist)
        |SELECT cluster_size, n_clusters, n_docs, n_redundant,
        | CASE WHEN total_redundant > 0
        |      THEN (n_redundant * 1000) // total_redundant ELSE 0 END AS redundancy_share_milli,
        | (n_docs * 1000) // total_docs AS corpus_share_milli
        |FROM hist CROSS JOIN tot ORDER BY cluster_size""".stripMargin) +
    ("dd17_fuzzy_match" ->
      """WITH n AS (
        | SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(p_partkey) AS BIGINT) AS min_key
        | FROM part GROUP BY 1),
        |g AS (
        | SELECT name, unnest(list_distinct(list_transform(
        |   generate_series(1, greatest(len(name) - 2, 1)),
        |   i -> substr(name, CAST(i AS INT), 3)))) AS gram
        | FROM n),
        |cand AS (
        | SELECT x.name AS a, y.name AS b, CAST(count(*) AS BIGINT) AS shared_grams
        | FROM g x JOIN g y ON x.gram = y.gram AND x.name < y.name
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |v AS (
        | SELECT a, b, CAST(levenshtein(a, b) AS INT) AS lev, shared_grams
        | FROM cand WHERE levenshtein(a, b) <= 3)
        |SELECT v.a, v.b, v.lev, v.shared_grams,
        | na.n_rows AS rows_a, nb.n_rows AS rows_b,
        | na.min_key AS key_a, nb.min_key AS key_b
        |FROM v JOIN n na ON v.a = na.name JOIN n nb ON v.b = nb.name
        |ORDER BY v.a, v.b""".stripMargin) +
    ("dd16_winnowing" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |shs AS (SELECT doc_id, $shingleSql AS sh FROM w),
         |hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS h FROM shs),
         |g AS (SELECT doc_id, CAST(unnest(generate_series(1, len(h))) AS INT) AS pos,
         |  unnest(h) AS gh FROM hs),
         |ws AS (SELECT doc_id, unnest(CASE WHEN len(h) >= 4
         |  THEN generate_series(1, len(h) - 3) ELSE [1] END) AS t, len(h) AS n FROM hs),
         |wm AS (SELECT g.doc_id, w.t, g.gh, g.pos
         | FROM g JOIN ws w ON w.doc_id = g.doc_id
         |   AND g.pos BETWEEN w.t AND least(w.t + 3, w.n)),
         |sel AS (SELECT doc_id, t, gh FROM (
         |  SELECT doc_id, t, gh,
         |   row_number() OVER (PARTITION BY doc_id, t ORDER BY gh, pos DESC) AS rn
         |  FROM wm) WHERE rn = 1),
         |fp AS (SELECT DISTINCT doc_id, gh FROM sel),
         |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         | FROM fp x JOIN fp y ON x.gh = y.gh AND x.doc_id < y.doc_id GROUP BY 1, 2)
         |SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared
         |FROM pairs WHERE n_shared >= 2 ORDER BY a, b""".stripMargin) +
    ("dd12_incremental" ->
      s"""WITH $candPreludeSql,
         |old_ch AS (SELECT DISTINCT md5(text) AS chash FROM documents WHERE doc_id % 5 != 0),
         |old_b AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 5 != 0),
         |hits AS (
         | SELECT f.doc_id,
         |  CAST(sum(CASE WHEN ob.band IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_band_hits
         | FROM (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 5 = 0) f
         | LEFT JOIN old_b ob ON f.band = ob.band AND f.bkey = ob.bkey
         | GROUP BY 1),
         |fr AS (SELECT doc_id, md5(text) AS chash FROM documents WHERE doc_id % 5 = 0)
         |SELECT fr.doc_id,
         | (oc.chash IS NOT NULL) AS is_exact_dup,
         | h.n_band_hits,
         | (oc.chash IS NOT NULL OR h.n_band_hits > 0) AS flagged
         |FROM fr
         |LEFT JOIN old_ch oc ON fr.chash = oc.chash
         |JOIN hits h ON h.doc_id = fr.doc_id
         |ORDER BY fr.doc_id""".stripMargin) +
    ("dd10_source_overlap" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         |shs AS (SELECT source, $shingleSql AS sh FROM w),
         |e AS (SELECT DISTINCT source, md5(s) AS h FROM shs, unnest(sh) AS t(s)),
         |sizes AS (SELECT source, count(*) AS n FROM e GROUP BY 1),
         |pairs AS (
         | SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_shared
         | FROM e x JOIN e y ON x.h = y.h AND x.source < y.source
         | GROUP BY 1, 2)
         |SELECT p.source_a, p.source_b, sa.n AS n_a, sb.n AS n_b, p.n_shared,
         | (p.n_shared * 1000) // (sa.n + sb.n - p.n_shared) AS jaccard_milli,
         | (p.n_shared * 1000) // sa.n AS cont_a_milli
         |FROM pairs p
         |JOIN sizes sa ON sa.source = p.source_a
         |JOIN sizes sb ON sb.source = p.source_b
         |ORDER BY source_a, source_b""".stripMargin) +
    // dd11/dd13 oracle: exact twin + within-tolerance booleans over
    // DuckDB's OWN HLL (approx_count_distinct) with the SAME gate
    // formulas as the Spark side — q26's sketch-proof pattern. DuckDB
    // has no theta sketch, so dd13's oracle gates the HLL family too:
    // the row is green iff BOTH engines' sketches sit inside the
    // declared error band around the shared exact values.
    ("dd11_hll_overlap" -> sketchOverlapOracleSql) +
    ("dd13_theta_overlap" -> sketchOverlapOracleSql) +
    // dd14's Bloom prefilter is a pure plan optimization — output is
    // the exact membership answer, so the oracle is the plain join.
    ("dd14_bloom_incremental" ->
      """WITH old_ch AS (SELECT DISTINCT md5(text) AS chash FROM documents WHERE doc_id % 5 != 0),
        |fr AS (SELECT doc_id, md5(text) AS chash FROM documents WHERE doc_id % 5 = 0)
        |SELECT fr.doc_id, (oc.chash IS NOT NULL) AS is_exact_dup
        |FROM fr LEFT JOIN old_ch oc ON fr.chash = oc.chash
        |ORDER BY fr.doc_id""".stripMargin)

  private lazy val sketchOverlapOracleSql: String =
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
       |shs AS (SELECT source, $shingleSql AS sh FROM w),
       |e AS (SELECT DISTINCT source, md5(s) AS h FROM shs, unnest(sh) AS t(s)),
       |sizes AS (SELECT source, count(*) AS n FROM e GROUP BY 1),
       |ests AS (SELECT source, approx_count_distinct(h) AS est FROM e GROUP BY 1),
       |pairs AS (
       | SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_shared
       | FROM e x JOIN e y ON x.h = y.h AND x.source < y.source
       | GROUP BY 1, 2),
       |eu AS (
       | SELECT p.source_a, p.source_b, approx_count_distinct(x.h) AS est_union
       | FROM pairs p JOIN e x ON x.source = p.source_a OR x.source = p.source_b
       | GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, sa.n AS n_a, sb.n AS n_b, p.n_shared,
       | abs(ea.est - sa.n) <= sa.n * 0.05 AS a_within_5pct,
       | abs(eb.est - sb.n) <= sb.n * 0.05 AS b_within_5pct,
       | abs(greatest(ea.est + eb.est - eu.est_union, 0) - p.n_shared)
       |   <= greatest((sa.n + sb.n - p.n_shared) * 0.10, 32.0) AS shared_within_tol
       |FROM pairs p
       |JOIN sizes sa ON sa.source = p.source_a
       |JOIN sizes sb ON sb.source = p.source_b
       |JOIN ests ea ON ea.source = p.source_a
       |JOIN ests eb ON eb.source = p.source_b
       |JOIN eu ON eu.source_a = p.source_a AND eu.source_b = p.source_b
       |ORDER BY p.source_a, p.source_b""".stripMargin

  private lazy val baseOracle: Map[String, String] = Map(
    "dd02_minhash_lsh" ->
      s"""WITH $candPreludeSql
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         | CAST(len(list_filter(generate_series(1, $NumPerms), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS n_sig_match
         |FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |ORDER BY a, b""".stripMargin,
    // dd24: dd02's candidate set rolled up to the source-pair domain.
    "dd24_source_neardup" ->
      s"""WITH $candPreludeSql,
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(len(list_filter(generate_series(1, $NumPerms), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS m
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |s AS (SELECT doc_id, source FROM documents),
         |p AS (
         | SELECT least(sa.source, sb.source) AS source_1,
         |  greatest(sa.source, sb.source) AS source_2, m
         | FROM cand JOIN s sa ON sa.doc_id = cand.a JOIN s sb ON sb.doc_id = cand.b)
         |SELECT source_1, source_2, CAST(count(*) AS BIGINT) AS n_candidates,
         | CAST(sum(CASE WHEN m >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_est_dup,
         | CAST((sum(CASE WHEN m >= 4 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS est_dup_milli
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dd06_dup_clusters" ->
      s"""WITH RECURSIVE $candPreludeSql,
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |edges AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
         |walk(node, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a AS node, w.label FROM walk w JOIN edges e ON e.b = w.node)
         |SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "dd18_soft_dedup" ->
      s"""WITH RECURSIVE $candPreludeSql,
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |edges AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
         |walk(node, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a AS node, w.label FROM walk w JOIN edges e ON e.b = w.node),
         |clusters AS (
         | SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         | FROM walk GROUP BY node),
         |sizes AS (
         | SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         | FROM clusters GROUP BY 1)
         |SELECT doc_id, cluster_id, n_members, 1000 // n_members AS weight_milli
         |FROM clusters JOIN sizes USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // sp14: dd18's component/weight CTEs + the token join and source
    // rollup; shares from effective TOKENS (both engines divide the
    // same integers).
    "sp14_effective_tokens" ->
      s"""WITH RECURSIVE $candPreludeSql,
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |edges AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
         |walk(node, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a AS node, w.label FROM walk w JOIN edges e ON e.b = w.node),
         |clusters AS (
         | SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         | FROM walk GROUP BY node),
         |sizes AS (
         | SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         | FROM clusters GROUP BY 1),
         |wts AS (
         | SELECT doc_id, 1000 // n_members AS weight_milli
         | FROM clusters JOIN sizes USING (cluster_id)),
         |t AS (
         | SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         | FROM documents),
         |src AS (
         | SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN w.weight_milli < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(t.tok) AS BIGINT) AS raw_tokens,
         |  CAST(sum(t.tok * w.weight_milli) AS BIGINT) AS eff_milli
         | FROM t JOIN wts w USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(eff_milli // 1000) AS BIGINT) AS te FROM src)
         |SELECT source, n_docs, n_dup_docs, raw_tokens,
         | eff_milli // 1000 AS effective_tokens,
         | eff_milli // raw_tokens AS unique_ratio_milli,
         | ((eff_milli // 1000) * 1000) // te AS eff_share_milli
         |FROM src, tot ORDER BY source""".stripMargin,
    "dd15_keep_best" ->
      s"""WITH RECURSIVE $candPreludeSql,
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |edges AS (SELECT a, b FROM cand UNION ALL SELECT b AS a, a AS b FROM cand),
         |walk(node, label) AS (
         | SELECT doc_id, doc_id FROM documents
         | UNION
         | SELECT e.a AS node, w.label FROM walk w JOIN edges e ON e.b = w.node),
         |clusters AS (
         | SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
         | FROM walk GROUP BY node),
         |${graft.operators.Curation.QualityWeights.scoredCteSql},
         |j AS (
         | SELECT c.doc_id, c.cluster_id, q.score
         | FROM clusters c JOIN qsc q ON c.doc_id = q.doc_id),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rk
         | FROM j),
         |k AS (SELECT cluster_id, doc_id AS keeper_id FROM r WHERE rk = 1),
         |n AS (SELECT cluster_id, count(*) AS n_members FROM j GROUP BY 1)
         |SELECT j.doc_id, j.cluster_id, j.score, k.keeper_id,
         | j.doc_id = k.keeper_id AS keep, n.n_members
         |FROM j JOIN k USING (cluster_id) JOIN n USING (cluster_id)
         |ORDER BY j.doc_id""".stripMargin,
    "dd03_simhash" -> {
      val sums = (0 until 16).map(bit =>
        s"sum(((val16 >> $bit) & 1) * 2 - 1) AS s$bit").mkString(",\n        | ")
      val combine = (0 until 16).map(bit =>
        s"(CASE WHEN s$bit > 0 THEN ${1 << bit} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (
         | SELECT doc_id, substr(md5(tok), 1, 4) AS h4 FROM toks),
         |vals AS (
         | SELECT doc_id,
         |  (instr('0123456789abcdef', substr(h4,1,1)) - 1) * 4096 +
         |  (instr('0123456789abcdef', substr(h4,2,1)) - 1) * 256 +
         |  (instr('0123456789abcdef', substr(h4,3,1)) - 1) * 16 +
         |  (instr('0123456789abcdef', substr(h4,4,1)) - 1) AS val16
         | FROM h),
         |votes AS (
         | SELECT doc_id, $sums FROM vals GROUP BY doc_id),
         |sh AS (
         | SELECT doc_id, CAST($combine AS INT) AS simhash FROM votes),
         |blocked AS (SELECT doc_id, simhash, simhash >> 8 AS block FROM sh)
         |SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS sh_a, y.simhash AS sh_b,
         | CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM blocked x JOIN blocked y ON x.block = y.block AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY a, b""".stripMargin
    },
    "dd20_simhash128_bands" -> {
      // 128-bit vote re-derivation from md5 hex: chars 1..16 hold
      // global bits 127..64 (the hi half), chars 17..32 bits 63..0;
      // bit g lives in 0-based nibble (127-g)/4 for g>=64 and
      // 16+(63-g)/4 below, at shift g%4; band t = bits 32t..32t+31.
      val nibs = (0 until 32).map(j =>
        s"(instr('0123456789abcdef', substr(h32, ${j + 1}, 1)) - 1) AS nib$j")
        .mkString(",\n         | ")
      val sums = (0 until 128).map { g =>
        val j = if (g >= 64) (127 - g) / 4 else 16 + (63 - g) / 4
        s"sum((((nib$j >> ${g % 4}) & 1) * 2) - 1) AS s$g"
      }.mkString(",\n         | ")
      val bandExprs = (0 until 4).map { t =>
        val bits = (0 until 32)
          .map(k => s"(CASE WHEN s${32 * t + k} > 0 THEN ${1L << k} ELSE 0 END)")
          .mkString(" + ")
        s"CAST($bits AS BIGINT) AS b$t"
      }.mkString(",\n         | ")
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h32 FROM toks),
         |nib AS (SELECT doc_id, $nibs FROM h),
         |votes AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
         |bands AS (SELECT doc_id, $bandExprs FROM votes),
         |pairs AS (
         | SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST((CASE WHEN x.b0 = y.b0 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b1 = y.b1 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b2 = y.b2 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b3 = y.b3 THEN 1 ELSE 0 END) AS BIGINT) AS shared_bands,
         |  CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
         |       bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS INT) AS hamming
         | FROM bands x JOIN bands y ON x.doc_id < y.doc_id
         |  AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3))
         |SELECT a, b, shared_bands, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY a, b""".stripMargin
    },
    "dd19_simhash64_bands" -> {
      // 64-bit vote re-derivation from md5 hex: char j+1 (1-based,
      // big-endian) holds global bits 63-4j..60-4j, so bit b lives in
      // nibble j = 15 - b/4 at shift b%4; band t = bits 16t..16t+15.
      val nibs = (0 until 16).map(j =>
        s"(instr('0123456789abcdef', substr(h16, ${j + 1}, 1)) - 1) AS nib$j")
        .mkString(",\n         | ")
      val sums = (0 until 64).map { bit =>
        val j = 15 - bit / 4; val sh = bit % 4
        s"sum((((nib$j >> $sh) & 1) * 2) - 1) AS s$bit"
      }.mkString(",\n         | ")
      val bandExprs = (0 until 4).map { t =>
        val bits = (0 until 16)
          .map(k => s"(CASE WHEN s${16 * t + k} > 0 THEN ${1 << k} ELSE 0 END)")
          .mkString(" + ")
        s"CAST($bits AS INT) AS b$t"
      }.mkString(",\n         | ")
      s"""WITH toks AS (
         | SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h16 FROM toks),
         |nib AS (SELECT doc_id, $nibs FROM h),
         |votes AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
         |bands AS (SELECT doc_id, $bandExprs FROM votes),
         |pairs AS (
         | SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST((CASE WHEN x.b0 = y.b0 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b1 = y.b1 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b2 = y.b2 THEN 1 ELSE 0 END) +
         |       (CASE WHEN x.b3 = y.b3 THEN 1 ELSE 0 END) AS BIGINT) AS shared_bands,
         |  CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
         |       bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS INT) AS hamming
         | FROM bands x JOIN bands y ON x.doc_id < y.doc_id
         |  AND (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3))
         |SELECT a, b, shared_bands, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY a, b""".stripMargin
    },
    "dd08_estimate_audit" -> {
      val minhashes = (0 until NumPerms).map { p =>
        val src = if (p < 4) "h0" else "h1"
        s"list_aggregate(list_transform($src, h -> substr(h, ${1 + 8 * (p % 4)}, 8)), 'min')"
      }.mkString(",\n        |  ")
      val bandkeys = (0 until NumPerms / BandWidth).map(b =>
        s"md5(sig[${b * BandWidth + 1}] || '|' || sig[${b * BandWidth + 2}])").mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |shs AS (SELECT doc_id, $shingleSql AS sh FROM w),
         |nonempty AS (SELECT doc_id, list_distinct(sh) AS dsh, sh FROM shs),
         |hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS h0,
         |  list_transform(sh, s -> md5('x' || s)) AS h1 FROM nonempty),
         |sigs AS (SELECT doc_id, [
         |  $minhashes] AS sig
         | FROM hs),
         |bands AS (SELECT doc_id, sig, unnest(generate_series(0, ${NumPerms / BandWidth - 1})) AS band,
         |  unnest([$bandkeys]) AS bkey FROM sigs),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(len(list_filter(generate_series(1, $NumPerms), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS n_sig_match
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |verified AS (
         | SELECT c.a, c.b, c.n_sig_match,
         |  CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS inter,
         |  CAST(len(sa.dsh) + len(sb.dsh) - len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS uni
         | FROM cand c JOIN nonempty sa ON sa.doc_id = c.a JOIN nonempty sb ON sb.doc_id = c.b)
         |SELECT a, b, n_sig_match,
         | (n_sig_match * 1000) // 8 AS est_milli,
         | (inter * 1000) // uni AS exact_milli,
         | abs((n_sig_match * 1000) // 8 - (inter * 1000) // uni) AS err_milli
         |FROM verified ORDER BY a, b""".stripMargin
    },

    "dd04_ngram_jaccard" -> {
      val minhashes = (0 until NumPerms).map { p =>
        val src = if (p < 4) "h0" else "h1"
        s"list_aggregate(list_transform($src, h -> substr(h, ${1 + 8 * (p % 4)}, 8)), 'min')"
      }.mkString(",\n        |  ")
      val bandkeys = (0 until NumPerms / BandWidth).map(b =>
        s"md5(sig[${b * BandWidth + 1}] || '|' || sig[${b * BandWidth + 2}])").mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |shs AS (SELECT doc_id, $shingleSql AS sh FROM w),
         |nonempty AS (SELECT doc_id, list_distinct(sh) AS dsh, sh FROM shs),
         |hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS h0,
         |  list_transform(sh, s -> md5('x' || s)) AS h1 FROM nonempty),
         |sigs AS (SELECT doc_id, [
         |  $minhashes] AS sig
         | FROM hs),
         |bands AS (SELECT doc_id, sig, unnest(generate_series(0, ${NumPerms / BandWidth - 1})) AS band,
         |  unnest([$bandkeys]) AS bkey FROM sigs),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |verified AS (
         | SELECT c.a, c.b,
         |  CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS inter,
         |  CAST(len(sa.dsh) + len(sb.dsh) - len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS uni
         | FROM cand c JOIN nonempty sa ON sa.doc_id = c.a JOIN nonempty sb ON sb.doc_id = c.b)
         |SELECT a, b, (inter * 1000) // uni AS jaccard_milli
         |FROM verified WHERE (inter * 1000) // uni >= 200
         |ORDER BY a, b""".stripMargin
    },
    "dd07_containment" -> {
      val minhashes = (0 until NumPerms).map { p =>
        val src = if (p < 4) "h0" else "h1"
        s"list_aggregate(list_transform($src, h -> substr(h, ${1 + 8 * (p % 4)}, 8)), 'min')"
      }.mkString(",\n        |  ")
      val bandkeys = (0 until NumPerms / BandWidth).map(b =>
        s"md5(sig[${b * BandWidth + 1}] || '|' || sig[${b * BandWidth + 2}])").mkString(", ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |shs AS (SELECT doc_id, $shingleSql AS sh FROM w),
         |nonempty AS (SELECT doc_id, list_distinct(sh) AS dsh, sh FROM shs),
         |hs AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS h0,
         |  list_transform(sh, s -> md5('x' || s)) AS h1 FROM nonempty),
         |sigs AS (SELECT doc_id, [
         |  $minhashes] AS sig
         | FROM hs),
         |bands AS (SELECT doc_id, sig, unnest(generate_series(0, ${NumPerms / BandWidth - 1})) AS band,
         |  unnest([$bandkeys]) AS bkey FROM sigs),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         | FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |verified AS (
         | SELECT c.a, c.b,
         |  CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS inter,
         |  CAST(len(sa.dsh) AS BIGINT) AS na, CAST(len(sb.dsh) AS BIGINT) AS nb
         | FROM cand c JOIN nonempty sa ON sa.doc_id = c.a JOIN nonempty sb ON sb.doc_id = c.b)
         |SELECT a, b, (inter * 1000) // na AS cont_a_milli,
         | (inter * 1000) // nb AS cont_b_milli
         |FROM verified
         |WHERE greatest((inter * 1000) // na, (inter * 1000) // nb) >= 500
         |ORDER BY a, b""".stripMargin
    },
    "dd05_embed_neardup" ->
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
        | SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        | FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
        |n AS (
        | SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm
        | FROM embeddings)
        |SELECT c.a, c.b,
        | list_sum(list_transform(generate_series(1, len(x.embedding)),
        |   i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm) AS cos_sim
        |FROM cand c JOIN n x ON x.vec_id = c.a JOIN n y ON y.vec_id = c.b
        |WHERE list_sum(list_transform(generate_series(1, len(x.embedding)),
        |   i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm) > 0.35
        |ORDER BY a, b""".stripMargin
  )
}
