package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One topic event. Values are integer cents so the ground truth is
  * exact; graft sees `value` as cents / 100. */
final case class Ev(ts: Long, user: Long, etype: String, cents: Long)

/** Seeded input generators. graft only ever sees what these produce,
  * and the same seed always produces the same inputs. */
object Gen {
  val EventTypes: Vector[String] = Vector("click", "view", "purchase", "signup", "error")
  val HourS = 3600L
  /** Start of every generated topic history: 2024-01-01T00:00:00Z. */
  val T0: Long = 1704067200L

  def eventSchema(tsCol: String): StructType = StructType(Seq(
    StructField(tsCol, TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  /** `n` events with times uniform in [fromS, toS), sorted by time. */
  def events(rng: SplittableRandom, n: Int, fromS: Long, toS: Long): Vector[Ev] =
    Vector.fill(n)(Ev(fromS + rng.nextLong(toS - fromS), rng.nextLong(1000),
      EventTypes(rng.nextInt(EventTypes.size)), rng.nextLong(100000)))
      .sortBy(e => (e.ts, e.user, e.etype, e.cents))

  def frame(spark: SparkSession, evs: Seq[Ev], tsCol: String = "ts"): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(evs.map(e => Row(new java.sql.Timestamp(e.ts * 1000), e.user,
      e.etype, e.cents / 100.0)).asJava, eventSchema(tsCol))
  }

  /** Canonical bytes of an event sequence, for the same-seed check. */
  def bytes(evs: Seq[Ev]): Array[Byte] =
    evs.map(e => s"${e.ts},${e.user},${e.etype},${e.cents}\n").mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Ground truth of a range aggregate: per event type, (rows, cents). */
  def rangeTruth(evs: Iterable[Ev], fromS: Long, toS: Long): Map[String, (Long, Long)] =
    evs.filter(e => e.ts >= fromS && e.ts < toS).groupBy(_.etype)
      .map { case (t, es) => t -> (es.size.toLong, es.map(_.cents).sum) }

  // -- curation tables: the shapes and value domains of the repo's
  //    sf-scaled test tables, at a seeded size --

  private val words = Vector("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val langs = Vector("en", "en", "en", "es", "fr", "zh", "de")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def ntz(epochS: Long): LocalDateTime = LocalDateTime.ofEpochSecond(epochS, 0, ZoneOffset.UTC)
  private def cents2(rng: SplittableRandom, lo: Long, hi: Long): Double =
    (lo + rng.nextLong(hi - lo + 1)) / 100.0

  /** The curation tables at scale factor `sf`, as (name, schema, rows).
    * Documents are word soups over a small vocabulary with a seeded
    * share of exact and edited copies, so the dedup operators find
    * work; embeddings are 64-d Gaussian; events and the relational
    * tables are uniform over the value domains of the test tables. */
  def curationTables(seed: Long, sf: Double): Seq[(String, StructType, IndexedSeq[Row])] = {
    val rng = new SplittableRandom(seed)
    val nDocs = math.max(200, (50000 * sf).toInt)
    val docs = {
      val texts = new Array[String](nDocs)
      (0 until nDocs).map { i =>
        val r = rng.nextInt(100)
        val text =
          if (i > 10 && r < 2) texts(rng.nextInt(i))
          else if (i > 10 && r < 6) {
            val base = texts(rng.nextInt(i)).split(' ')
            base.indices.map(j => if (rng.nextInt(12) == 0) words(rng.nextInt(words.size)) else base(j))
              .mkString(" ")
          } else Vector.fill(8 + rng.nextInt(90))(words(rng.nextInt(words.size))).mkString(" ")
        texts(i) = text
        Row(i.toLong, text, langs(rng.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      }
    }
    val nEmb = math.max(200, (20000 * sf).toInt)
    val emb = (0 until nEmb).map { i =>
      Row(i.toLong, Vector.fill(64)((rng.nextGaussian() * 0.125).toFloat), rng.nextInt(10))
    }
    val nEvents = (1000000 * sf).toInt
    val nUsers = math.max(10, nEvents / 66)
    val evStart = T0
    val events = Vector.fill(nEvents)(evStart + rng.nextLong(30L * 86400L) -> rng.nextLong(1000000L))
      .sortBy(identity).zipWithIndex.map { case ((ts, frac), i) =>
        Row(i.toLong, LocalDateTime.ofEpochSecond(ts, (frac * 1000).toInt, ZoneOffset.UTC),
          rng.nextLong(nUsers), EventTypes(rng.nextInt(EventTypes.size)),
          cents2(rng, 0, 56021), s"""{"k": ${rng.nextInt(100)}}""")
      }
    val nCust = math.max(50, (150000 * sf).toInt)
    val customer = (0 until nCust).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25), cents2(rng, -99999, 999999),
        segments(rng.nextInt(segments.size)))
    }
    val nOrders = nCust * 10
    val d95 = 788918400L // 1995-01-01
    val dSpan = 2404L * 86400L // through 2001-08-01
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, rng.nextLong(nCust), "FOP".charAt(rng.nextInt(3)).toString,
        cents2(rng, 90000, 55000000), ntz(d95 + rng.nextLong(dSpan / 86400) * 86400),
        priorities(rng.nextInt(priorities.size)))
    }
    val nLines = nOrders * 4
    val lineitem = (0 until nLines).map { _ =>
      Row(rng.nextLong(nOrders), rng.nextLong(2000), rng.nextLong(100), 1 + rng.nextInt(7),
        (1 + rng.nextInt(50)).toDouble, cents2(rng, 90000, 10500000), rng.nextInt(11) / 100.0,
        rng.nextInt(9) / 100.0, "RAN".charAt(rng.nextInt(3)).toString,
        "OF".charAt(rng.nextInt(2)).toString, ntz(d95 + rng.nextLong(dSpan / 86400) * 86400))
    }
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Seq(
      ("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), docs),
      ("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), emb),
      ("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType), orders),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), lineitem))
  }

  /** Canonical bytes of generated curation tables. */
  def tableBytes(tables: Seq[(String, StructType, IndexedSeq[Row])]): Array[Byte] = {
    val sb = new StringBuilder
    tables.foreach { case (name, _, rows) =>
      sb.append(name).append('\n')
      rows.foreach(r => sb.append(r.toSeq.map {
        case v: Seq[_] => v.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).append('\n'))
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}
