package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.{TextFunctions, VectorFunctions}

/** curation-batch: one driver thread runs twelve registered curation
  * and analytics queries over seeded tables, materializing every result
  * (a `count()` lets Spark delete work the query would otherwise do).
  * Operators and kernels do almost all the work; the topic store does
  * none. The set covers the dedup, near-duplicate, IVF, graph, BM25,
  * join and RFM families and their hot kernels. */
object CurationBatch {
  val Queries: Seq[String] = Seq("dd02_minhash_lsh", "dd04_ngram_jaccard", "dd05_embed_neardup",
    "dd06_dup_clusters", "dd09_cc_star", "dd22_cdc_chunks", "mm09_image_neardup",
    "ss05_ivf_probe", "ss33_pagerank", "tx23_bm25", "q03_join_agg", "ts27_rfm")
  val Sf = 0.01

  /** Write the seeded input tables, one parquet file each. */
  def write(ctx: Ctx, tables: Seq[(String, StructType, IndexedSeq[Row])], dir: String): String = {
    tables.foreach { case (name, schema, rows) =>
      ctx.spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** Set-up a batch user pays: open every input table through graft's
    * table loader and count it. */
  def open(ctx: Ctx, dir: String, names: Seq[String]): Long =
    names.map(n => graft.Tables(ctx.spark, dir, n).count()).sum

  final case class Pass(wallS: Double, cpuS: Double, queryMs: Seq[Double], t0: Long, t1: Long)

  /** Canonical, order-free form of a result for comparing passes. */
  private def canonical(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case b: Array[Byte] => b.mkString("0x", ",", "")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Run passes over the twelve queries until `seconds` have elapsed
    * (at least one). Every result must hold the rows of `reference`;
    * with no reference, the first pass's results become it and are
    * written to `outDir` for the DuckDB comparison made after the run.
    * Returns the passes and the reference. */
  def run(ctx: Ctx, dataDir: String, seconds: Double, log: OpLog, outDir: Option[String],
          reference: Map[String, Seq[String]]): (Seq[Pass], Map[String, Seq[String]]) = {
    val spark = ctx.spark
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var ref = reference
    val passes = Seq.newBuilder[Pass]
    var n = 0
    while (n == 0 || System.nanoTime() < deadline) {
      val c0 = Cpu.processNs()
      val t0 = System.nanoTime()
      val results = Queries.map { q =>
        spark.catalog.clearCache()
        val s0 = System.nanoTime()
        val res = log.run(q) {
          val df = SparkEntry.queries(q)(spark, dataDir)
          (df.schema, df.collect())
        }
        (q, res, (System.nanoTime() - s0) / 1e6)
      }
      val t1 = System.nanoTime()
      passes += Pass((t1 - t0) / 1e9, (Cpu.processNs() - c0) / 1e9, results.map(_._3), t0, t1)
      spark.catalog.clearCache()
      val firstRef = ref.isEmpty
      results.foreach { case (q, res, _) =>
        res.foreach { case (schema, rows) =>
          if (firstRef) {
            ref += q -> canonical(rows)
            outDir.foreach(o => spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.parquet(s"$o/$q"))
          } else log.check(q, ref.get(q).contains(canonical(rows)),
            if (ref.contains(q)) s"pass ${n + 1} differs from the reference pass"
            else "no reference result to check against")
        }
      }
      n += 1
    }
    outDir.foreach { o =>
      val sql = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
      Files.writeString(Paths.get(s"$o/oracle_sql.json"), Json.render(sql))
    }
    (passes.result(), ref)
  }

  /** ns per row of each hot kernel: the public function evaluated over
    * a fixed seeded column that is cached first, materialized with
    * Spark's `noop` writer; median of three evaluations. */
  def kernels(ctx: Ctx, dataDir: String, rows: Int): Map[String, Double] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val dn = docs.count().toInt
    val en = emb.count().toInt
    val text = docs.select(col("text"), split(col("text"), " ").as("sh"))
      .crossJoin(spark.range((rows + dn - 1) / dn).toDF("rep")).limit(rows).cache()
    val vecs = emb.select(col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b")).limit((rows + en - 1) / en)).limit(rows).cache()
    text.count(); vecs.count()
    val cents = array(emb.select(col("embedding"), col("label")).limit(16).collect().toSeq.map { r =>
      struct(typedLit(r.getSeq[Float](0)).as("cvec"), lit(r.getInt(1)).as("c_label"))
    }: _*)
    def time(df: DataFrame, c: org.apache.spark.sql.Column): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.select(c.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / rows
    })
    val out = Map(
      "minhash" -> time(text, TextFunctions.minhash(col("sh"), 0)),
      "simhashSig" -> time(text, TextFunctions.simhashSig(col("text"))),
      "cdcChunks" -> time(text, TextFunctions.cdcChunks(col("text"))),
      "termCounts" -> time(text, TextFunctions.termCounts(col("text"), Seq("vector", "join", "scan"))),
      "cellArgmin" -> time(vecs, VectorFunctions.cellArgmin(col("a"), cents, "cvec", "c_label")),
      "cosine" -> time(vecs, VectorFunctions.cosine(col("a"), col("b"))),
      "l2distSq" -> time(vecs, VectorFunctions.l2distSq(col("a"), col("b"))))
    text.unpersist(); vecs.unpersist()
    out
  }
}
