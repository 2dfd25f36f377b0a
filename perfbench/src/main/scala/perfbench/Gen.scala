package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded input generators. Every table, key range, condition, batch
  * and query the workloads use is drawn from a generator seeded by the
  * run's `--seed`, so the same seed replays the same inputs. Rows are
  * built on the driver: they are also the independent reference the
  * correctness checks compare the engine's answers against. */
object Gen {

  /** A lineitem-shaped row (TPC-H column names, sf0.1 cardinalities). */
  final case class Line(ok: Long, ln: Int, pk: Long, qty: Double, price: Double,
      disc: Double, flag: String, shipDays: Int)

  val LineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_shipdays", IntegerType)))

  val Flags: Array[String] = Array("A", "N", "R")

  /** 1..7 lines per order, 4 on average, so 150k orders give ~600k rows
    * like sf0.1. Prices are whole cents, so doubles round-trip exactly. */
  def lineitem(seed: Long, orders: Int): Array[Line] = {
    val r = new SplittableRandom(seed * 31 + 1)
    val b = Array.newBuilder[Line]
    var o = 1L
    while (o <= orders) {
      val n = 1 + r.nextInt(7)
      var l = 1
      while (l <= n) {
        val qty = (1 + r.nextInt(50)).toDouble
        b += Line(o, l, 1L + r.nextInt(20000), qty,
          (qty * (90000 + r.nextInt(1000000))).round / 100.0,
          r.nextInt(11) / 100.0, Flags(r.nextInt(3)), 8000 + r.nextInt(2500))
        l += 1
      }
      o += 1
    }
    b.result()
  }

  def lineDf(spark: SparkSession, rows: Seq[Line]): DataFrame =
    spark.createDataFrame(rows.map(x => Row(x.ok, x.ln, x.pk, x.qty, x.price, x.disc,
      x.flag, x.shipDays)).asJava, LineSchema)

  /** An orders-shaped row; o_orderkey is the unique key. */
  final case class Order(ok: Long, ck: Long, status: String, price: Double, prio: String)

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))

  val Statuses: Array[String] = Array("F", "O", "P")
  val Prios: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def order(r: SplittableRandom, ok: Long): Order =
    Order(ok, 1L + r.nextInt(15000), Statuses(r.nextInt(3)),
      (100000 + r.nextInt(50000000)) / 100.0, Prios(r.nextInt(5)))

  def orderDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows.map(o => Row(o.ok, o.ck, o.status, o.price, o.prio)).asJava,
      OrderSchema)

  /** Order-insensitive fingerprint of a set of orders: (rows, sum of
    * keys, sum of a per-row mix). Small enough terms that Spark's ANSI
    * long arithmetic cannot overflow at the sizes used here. */
  def orderMix(o: Order): Long =
    o.ok * 31 + o.ck * 17 + math.round(o.price * 100) + o.status.charAt(0).toLong

  // ------------------------------------------------------------ corpus

  /** Pseudo-words of 2..4 syllables; ranks follow a Zipf(1) law, so the
    * head terms are "hot" (in most documents) and the tail is rare. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val syl = Array("ka", "to", "ri", "mu", "ne", "sa", "lo", "pi", "de", "gu",
      "ba", "fe", "zo", "chi", "va", "wen", "tor", "lan", "dri", "mos")
    val r = new SplittableRandom(seed * 31 + 7)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    seen.toArray
  }

  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / i)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Doc(id: Long, text: String)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  /** Docs of 10..120 Zipf-drawn words. */
  def docs(r: SplittableRandom, vocab: Array[String], z: Zipf, ids: Seq[Long]): Seq[Doc] =
    ids.map { id =>
      val n = 10 + r.nextInt(111)
      Doc(id, (0 until n).map(_ => vocab(z.draw(r))).mkString(" "))
    }

  def docDf(spark: SparkSession, rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(rows.map(d => Row(d.id, d.text)).asJava, DocSchema)

  /** A near-duplicate of `d`: one word replaced. Docs of 40+ words keep a
    * 5-shingle Jaccard near 0.9, far above the 0.7 dedup threshold. */
  def nearDup(r: SplittableRandom, d: Doc, newId: Long, vocab: Array[String]): Doc = {
    val w = d.text.split(" ")
    w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
    Doc(newId, w.mkString(" "))
  }
}
