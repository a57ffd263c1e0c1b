package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Every operator must be TOTAL on degenerate-but-legal inputs.
  *
  * At 100 TB these are not corner cases: a fresh topic, a feed
  * partition that produced nothing today, a corpus shard with null
  * text (failed extraction) or null embeddings (failed encoder call).
  * A query that throws there — null from a scalar subquery over no
  * rows, min/max of nothing feeding a sequence(), a hand-rolled
  * kernel reading a null array — takes the whole pipeline down
  * instead of producing the degraded report it should. Built-in
  * expressions get null-safety from Catalyst for free; the places
  * that bypass it (typed Aggregators, mapPartitions batch decode)
  * are exactly what this spec guards.
  */
class RobustnessSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def runAll(dir: String): Seq[String] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try { q(spark, dir).collect(); None }
      catch { case e: Exception =>
        Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}") }
    }

  test("media decoders survive fuzzed bytes (never throw) and always parse their own synthesis") {
    import graft.operators.Multimodal
    // deterministic fuzz: 500 corrupt payloads per class — random
    // bytes, truncations of valid payloads, valid magic + garbage.
    // Decoders must route out (None/empty), never throw.
    val rnd = new scala.util.Random(42)
    val texts = (0 until 50).map(i => s"doc $i " + rnd.alphanumeric.take(rnd.nextInt(80)).mkString)
    val valid = texts.flatMap(t => Seq(
      Multimodal.mkMedia(t), Multimodal.mkGif(t), Multimodal.mkWav(t), Multimodal.mkMp4(t)))
    val fuzz: Seq[Array[Byte]] =
      (0 until 100).map(_ => Array.fill(rnd.nextInt(200))(rnd.nextInt.toByte)) ++
      valid.map(p => p.take(rnd.nextInt(p.length))) ++
      valid.map { p =>
        val c = p.clone
        (0 until 1 + rnd.nextInt(8)).foreach(_ => c(rnd.nextInt(c.length)) = rnd.nextInt.toByte)
        c
      }
    fuzz.zipWithIndex.foreach { case (p, i) =>
      val in = Multimodal.MediaIn(i.toLong, p)
      Multimodal.decodeMedia(in)       // Option — must not throw
      Multimodal.decodeWav(in)
      Multimodal.decodeMp4(in)
      Multimodal.sampleFrames(in).toList
      Multimodal.decodePixelHash(in)   // zlib + unfilter path included
    }
    // the pixel decoder's fuzz class: valid pixel-PNGs with bytes
    // flipped INSIDE the zlib stream (Inflater errors route to None)
    texts.map(Multimodal.mkPngPixels).foreach { p =>
      val c = p.clone
      (0 until 4).foreach(_ => c(40 + rnd.nextInt(c.length - 52)) = rnd.nextInt.toByte)
      Multimodal.decodePixelHash(Multimodal.MediaIn(0L, c)) // must not throw
      assert(Multimodal.decodePixelHash(
        Multimodal.MediaIn(0L, p.take(p.length / 2))).isEmpty,
        "truncated pixel stream must route out")
    }
    // every clean synthesized payload must parse back to its formula
    texts.foreach { t =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def nib(c: Char) = "0123456789abcdef".indexOf(c)
      val img = Multimodal.decodeMedia(Multimodal.MediaIn(1L, Multimodal.mkMedia(t)))
      assert(img.exists(m => m.width == 64 + 16 * nib(h(1)) && m.height == 64 + 16 * nib(h(2))))
      val mp4 = Multimodal.decodeMp4(Multimodal.MediaIn(1L, Multimodal.mkMp4(t)))
      assert(mp4.exists(v => v.width == 16 * (20 + nib(h(11))) && v.n_tracks == 1))
      val wav = Multimodal.decodeWav(Multimodal.MediaIn(1L, Multimodal.mkWav(t)))
      assert(wav.exists(_.data_bytes == t.getBytes("UTF-8").length))
      val gif = Multimodal.sampleFrames(Multimodal.MediaIn(1L, Multimodal.mkGif(t))).size
      assert(gif == 2 + nib(h(3)) % 4)
    }
  }

  test("mm09 banding is COMPLETE and sound: pair set equals brute-force hamming<=3") {
    import graft.operators.Multimodal
    // decode every corpus image's hash, brute-force all pairs, and
    // require the banded query to return EXACTLY the hamming<=3 set —
    // completeness is the pigeonhole guarantee (<=3 flipped bits
    // leave one of four 16-bit bands intact), soundness is the exact
    // verify. Brute force is test-only (n² on 200 docs).
    val texts = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val hashes = texts.map { case (id, t) =>
      val m = Multimodal.decodePixelHash(
        Multimodal.MediaIn(id, Multimodal.mkPngPixels(t))).get
      val hi = java.lang.Long.parseLong(m.ahash.substring(0, 8), 16)
      val lo = java.lang.Long.parseLong(m.ahash.substring(8, 16), 16)
      (id, (hi << 32) | lo)
    }
    // collapse to distinct-hash classes keyed by min doc (the query's
    // rep), then brute-force hamming over the CLASS domain
    val classes = hashes.groupBy(_._2).map { case (h, xs) =>
      (xs.map(_._1).min, h, xs.length.toLong) }.toSeq
    val brute = (for {
      (a, ha, _) <- classes; (b, hb, _) <- classes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = SparkEntry.queries("mm09_image_neardup")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == brute,
      s"banded minus brute: ${(got.keySet -- brute).take(5)}; missed: ${(brute -- got.keySet).take(5)}")
    assert(brute.nonEmpty, "fixture sanity: the corpus must contain near-dup hash classes")
    // class sizes carried correctly (the duplicate-mass contract)
    val sizeOf = classes.map(c => c._1 -> c._3).toMap
    got.foreach { case ((a, b), (na, nb)) =>
      assert(na == sizeOf(a) && nb == sizeOf(b), s"class sizes of ($a,$b)")
    }
    assert(classes.exists(_._3 > 1L),
      "fixture sanity: at least one exact-dup image class")
  }

  test("mm08 raster decode matches javax.imageio pixel-for-pixel (independent PNG decoder)") {
    import graft.operators.Multimodal
    // our inflate+unfilter pipeline cross-validated against the JDK's
    // OWN PNG decoder on the same bytes — a fully independent oracle
    // for the raster (the DuckDB oracle checks the closed formula;
    // this checks the DECODER against a second implementation,
    // including all five filter types every image exercises)
    val rnd = new scala.util.Random(7)
    val texts = (0 until 25).map(i => s"pix $i " + rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    texts.foreach { t =>
      val png = Multimodal.mkPngPixels(t)
      val (w, ht, raster) = Multimodal.pngRaster(png)
        .getOrElse(fail(s"own synthesis must decode: $t"))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, "ImageIO must accept the synthesized PNG")
      assert(img.getWidth == w && img.getHeight == ht)
      for (y <- 0 until ht; x <- 0 until w) {
        val ours = raster(y * w + x) & 0xff
        val theirs = img.getRaster.getSample(x, y, 0)
        assert(ours == theirs, s"pixel ($x,$y) of '$t': ours $ours vs imageio $theirs")
      }
    }
    // and the closed pixel formula reproduces the raster (the oracle's
    // premise, pinned here directly)
    val t0 = texts.head
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(t0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def nib(c: Char) = "0123456789abcdef".indexOf(c)
    val (w, ht, raster) = Multimodal.pngRaster(Multimodal.mkPngPixels(t0)).get
    val (a, b, c) = (1 + nib(h(3)), 1 + nib(h(4)), 16 * nib(h(5)) + nib(h(6)))
    assert(w == 16 + nib(h(1)) && ht == 16 + nib(h(2)))
    for (y <- 0 until ht; x <- 0 until w)
      assert((raster(y * w + x) & 0xff) == (a * x + b * y + c) % 256)
  }

  test("mm10 pixel stats match a javax.imageio recompute (independent decoder + independent fold)") {
    import graft.operators.Multimodal
    // every figure recomputed from the JDK's own PNG decode of the
    // same bytes — validates the decode AND the integer stat folds
    // (variance/gradient formulas) against a second implementation
    val rnd = new scala.util.Random(11)
    val texts = (0 until 25).map(i => s"stat $i " + rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    texts.foreach { t =>
      val png = Multimodal.mkPngPixels(t)
      val got = Multimodal.decodePixelStats(Multimodal.MediaIn(3L, png))
        .getOrElse(fail(s"own synthesis must decode: $t"))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val (w, ht) = (img.getWidth, img.getHeight)
      assert(got.width == w && got.height == ht)
      val px = for (y <- 0 until ht; x <- 0 until w)
        yield img.getRaster.getSample(x, y, 0)
      val n = (w * ht).toLong
      val s = px.map(_.toLong).sum
      val s2 = px.map(v => v.toLong * v).sum
      val g = (for (y <- 0 until ht; x <- 1 until w) yield
        math.abs(img.getRaster.getSample(x, y, 0) - img.getRaster.getSample(x - 1, y, 0)).toLong).sum
      assert(got.min_px == px.min && got.max_px == px.max)
      assert(got.contrast == px.max - px.min)
      assert(got.mean_px == (s / n).toInt)
      assert(got.var_milli == (n * s2 - s * s) * 1000 / (n * n), s"variance of '$t'")
      assert(got.grad_milli == g * 1000 / (ht.toLong * (w - 1)), s"gradient of '$t'")
    }
    // corrupt payloads route out, never throw (the decodeMedia contract)
    val clean = Multimodal.mkPngPixels(texts.head)
    assert(Multimodal.decodePixelStats(
      Multimodal.MediaIn(3L, clean.take(clean.length / 2))).isEmpty)
  }

  test("mm11 waveform stats recompute from the closed sawtooth formula; corrupt audio routes out") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(13)
    val texts = (0 until 25).map(i => s"pcm $i " + rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    texts.foreach { t =>
      val wav = Multimodal.mkWavPcm(t)
      val got = Multimodal.decodeAudioStats(Multimodal.MediaIn(5L, wav))
        .getOrElse(fail(s"own synthesis must decode: $t"))
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def nib(c: Char) = "0123456789abcdef".indexOf(c)
      val n = 200 + 16 * nib(h(1)) + nib(h(2))
      val (a, b) = (1 + nib(h(3)), 16 * nib(h(4)) + nib(h(5)))
      val rate = Seq(8000, 16000, 22050, 44100)(nib(h(6)) % 4)
      val s = (0 until n).map(i => (a * i + b) % 256 - 128)
      assert(got.n_samples == n && got.sample_rate == rate)
      assert(got.duration_ms == (n.toLong * 1000 / rate).toInt)
      assert(got.peak == s.map(math.abs).max)
      assert(got.mean_sq == s.map(v => v.toLong * v).sum / n)
      assert(got.zero_cross == s.sliding(2).count(p =>
        (p(0) < 0 && p(1) >= 0) || (p(0) >= 0 && p(1) < 0)))
      assert(got.clip_milli == s.count(v => math.abs(v) >= 120).toLong * 1000 / n)
    }
    // a sawtooth with a > 1 must actually cross the midline (fixture
    // sanity: the stat battery is exercised, not vacuous)
    assert(texts.exists(t => Multimodal.decodeAudioStats(
      Multimodal.MediaIn(5L, Multimodal.mkWavPcm(t))).get.zero_cross > 0))
    // corrupt payloads route out: truncated stream, non-8-bit fmt
    val clean = Multimodal.mkWavPcm(texts.head)
    assert(Multimodal.decodeAudioStats(
      Multimodal.MediaIn(5L, clean.take(clean.length / 2))).isEmpty)
    assert(Multimodal.decodeAudioStats(
      Multimodal.MediaIn(5L, Multimodal.mkWav(texts.head))).isEmpty ||
      Multimodal.decodeWav(Multimodal.MediaIn(5L, Multimodal.mkWav(texts.head))).exists(_.bits == 8),
      "mm11 must refuse payloads whose fmt it does not decode (16-bit / stereo)")
  }

  test("mm13 silence segmentation recomputes run-by-run from the sawtooth; edges and corrupt audio route right") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(29)
    val texts = (0 until 25).map(i => s"sil $i " + rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    texts.foreach { t =>
      val got = Multimodal.decodeSilence(Multimodal.MediaIn(7L, Multimodal.mkWavPcm(t)))
        .getOrElse(fail(s"own synthesis must decode: $t"))
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def nib(c: Char) = "0123456789abcdef".indexOf(c)
      val n = 200 + 16 * nib(h(1)) + nib(h(2))
      val (a, b) = (1 + nib(h(3)), 16 * nib(h(4)) + nib(h(5)))
      val s = (0 until n).map(i => (a * i + b) % 256 - 128)
      val silent = s.map(v => math.abs(v) < 8)
      assert(got.n_samples == n)
      assert(got.n_silent == silent.count(identity))
      assert(got.n_clipped == s.count(v => math.abs(v) >= 120))
      val runs = silent.foldLeft(List.empty[Int]) {
        case (acc, true) => if (acc.isEmpty) List(1) else (acc.head + 1) :: acc.tail
        case (acc, false) => 0 :: acc
      }
      assert(got.max_silent_run == (if (runs.isEmpty) 0 else runs.max))
      assert(got.lead_silent == silent.takeWhile(identity).length)
      assert(got.trail_silent == silent.reverse.takeWhile(identity).length)
      assert(got.silent_milli == silent.count(identity).toLong * 1000 / n)
    }
    // fixture sanity: at least one corpus-shaped payload actually has
    // a silent run (the battery is exercised, not vacuous)
    assert(texts.exists(t => Multimodal.decodeSilence(
      Multimodal.MediaIn(7L, Multimodal.mkWavPcm(t))).get.max_silent_run > 0))
    // corrupt payloads route out, like mm11
    val clean = Multimodal.mkWavPcm(texts.head)
    assert(Multimodal.decodeSilence(
      Multimodal.MediaIn(7L, clean.take(clean.length / 2))).isEmpty)
  }

  test("all queries complete on empty tables (schema preserved, zero rows)") {
    val dir = Files.createTempDirectory("graft_sf_empty").toString
    // events.ts is TIMESTAMP(NANOS) — readable only as raw int64
    // (the same conf Tables.events sets); the empty copy then carries
    // plain INT64, which Tables.events consumes identically.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failures = runAll(dir)
    assert(failures.isEmpty,
      s"queries must be total on empty input:\n${failures.mkString("\n")}")
  }

  test("all queries complete with null text and null embeddings injected") {
    val dir = Files.createTempDirectory("graft_sf_nulls").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      val raw = spark.read.parquet(s"$sfDir/$t.parquet")
      val df = t match {
        case "documents" => raw.withColumn("text",
          when(col("doc_id") % 7 === 0, lit(null: String)).otherwise(col("text")))
        case "embeddings" => raw.withColumn("embedding",
          when(col("vec_id") % 7 === 0, lit(null).cast("array<float>"))
            .otherwise(col("embedding")))
        case _ => raw
      }
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val failures = runAll(dir)
    assert(failures.isEmpty,
      s"queries must be total under null text/embeddings:\n${failures.mkString("\n")}")
  }

  test("every reference-object kernel refuses a wrong input type with an AnalysisException") {
    import graft.plans._
    import org.apache.spark.sql.graft.bridge
    val df = spark.range(1).select(lit(1).as("i"), lit("a b").as("s"),
      array(struct(map(lit(1), lit(2)).as("id"), lit(1L).as("rel"),
        array(lit(1f)).as("emb"))).as("map_ids"))
    def c(n: String) = bridge.expression(col(n))
    val (i, s) = (c("i"), c("s"))
    val wrong = Seq(
      WordGramMd5Expr(i, 3), TiledLineHashesExpr(i, 2), WinnowTextExpr(i, 3, 4),
      WordGramXxhTextExpr(i, 3), MinHashSigExpr(s), MinHashWordsExpr(s, 3),
      WinnowSelectExpr(s, 4), WordGramHashesExpr(s, 3), SimHashSigExpr(i),
      SimHashBandsExpr(i), SimHashWideExpr(i), BigramCountsExpr(i), CdcChunksExpr(i),
      CdcCutsExpr(i), LexiconCountsExpr(i, Seq(Seq("a"))), TokenProfileExpr(i, Seq("a")),
      MmrPicksExpr(c("map_ids"), 2), PqArgminExpr(s, i, 2, 0), PqArgminExpr(s, i, 2, 1),
      PqArgminExpr(s, i, 2, 2), CellArgminExpr(s, i, "cvec", "c_label", "d2", "cell"))
    val unclean = wrong.flatMap { e =>
      try { df.select(bridge.column(e).as("x")); Some(s"${e.prettyName}: analyzed") }
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
        case t: Throwable => Some(s"${e.prettyName}: ${t.getClass.getName}")
      }
    }
    assert(unclean.isEmpty, unclean.mkString("\n"))
    // an orderable id still analyzes
    df.select(bridge.column(MmrPicksExpr(bridge.expression(
      array(struct(lit(1L).as("id"), lit(1L).as("rel"), array(lit(1f)).as("emb")))), 2)))
  }
}
