package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped inputs. Every value is an integer so that the
  * benchmark's own answers (counts, sums, order-independent checksums)
  * are exact whatever order Spark adds rows in. */
final case class Order(key: Long, cust: Int, status: Int, region: Int, day: Int, price: Long) {
  def row: Row = Row(key, cust, status, region, day, price)
  def check: Long = Math.floorMod(key * 1000003L + cust * 7919L + status * 101L + price * 31L + day, Data.P)
}

final case class Line(order: Long, num: Int, part: Int, qty: Int, price: Long, day: Int) {
  def row: Row = Row(order, num, part, qty, price, day)
  def check: Long = Math.floorMod(order * 1000003L + num * 7919L + part * 101L + qty * 31L + price, Data.P)
}

object Data {
  val P = 1000000007L
  val Regions = 8
  val Days = 360
  val Parts = 2000

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", IntegerType),
    StructField("o_status", IntegerType), StructField("o_region", IntegerType),
    StructField("o_day", IntegerType), StructField("o_totalprice", LongType)))
  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", IntegerType), StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", LongType), StructField("l_day", IntegerType)))

  val orderCols = "o_orderkey BIGINT, o_custkey INT, o_status INT, o_region INT, o_day INT, o_totalprice BIGINT"
  val lineCols = "l_orderkey BIGINT, l_linenumber INT, l_partkey INT, l_quantity INT, l_extendedprice BIGINT, l_day INT"

  /** The SQL twin of [[Order.check]] / [[Line.check]]: count and checksum. */
  val orderCheckSql = "count(*), coalesce(sum(pmod(o_orderkey * 1000003 + o_custkey * 7919 + " +
    "o_status * 101 + o_totalprice * 31 + o_day, 1000000007)), 0)"
  val lineCheckSql = "count(*), coalesce(sum(pmod(l_orderkey * 1000003 + l_linenumber * 7919 + " +
    "l_partkey * 101 + l_quantity * 31 + l_extendedprice, 1000000007)), 0)"

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def order(r: SplittableRandom, key: Long): Order =
    Order(key, r.nextInt(5000), r.nextInt(3), r.nextInt(Regions), r.nextInt(Days),
      100L + r.nextInt(5000000))

  def orders(seed: Long, salt: Long, keys: Range.Inclusive): IndexedSeq[Order] = {
    val r = rng(seed, salt)
    keys.map(k => order(r, k.toLong))
  }

  /** 1 to 7 lines per order (4 on average). */
  def lines(seed: Long, salt: Long, orderKeys: Seq[Long]): IndexedSeq[Line] = {
    val r = rng(seed, salt)
    orderKeys.flatMap { k =>
      (1 to 1 + r.nextInt(7)).map(n =>
        Line(k, n, r.nextInt(Parts), 1 + r.nextInt(50), 100L + r.nextInt(1000000), r.nextInt(Days)))
    }.toIndexedSeq
  }

  def ordersDf(s: SparkSession, os: Seq[Order]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(os.map(_.row): _*), orderSchema)
  def linesDf(s: SparkSession, ls: Seq[Line]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(ls.map(_.row): _*), lineSchema)

  /** Unit-norm 64-dimensional vectors around 16 random centres (the
    * index's dimension is fixed at 64). */
  val Dim = 64
  def vectors(seed: Long, salt: Long, ids: Seq[Long]): IndexedSeq[(Long, Array[Double])] = {
    val clusters = 16
    val centres = {
      val r = rng(seed, 7777L)
      Array.fill(clusters)(Array.fill(Dim)(r.nextGaussian()))
    }
    val r = rng(seed, salt)
    ids.map { id =>
      val c = centres(r.nextInt(clusters))
      val v = Array.tabulate(Dim)(i => c(i) + 0.35 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(_ / n))
    }.toIndexedSeq
  }

  def vectorsDf(s: SparkSession, vs: Seq[(Long, Array[Double])], idCol: String = "vec_id",
      vecCol: String = "nv"): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType),
      StructField(vecCol, ArrayType(DoubleType, containsNull = false))))
    s.createDataFrame(java.util.Arrays.asList(vs.map { case (i, v) => Row(i, v.toSeq) }: _*), schema)
  }

  /** Exact top-k by cosine (vectors are unit-norm). */
  def bruteTopK(corpus: Seq[(Long, Array[Double])], q: Array[Double], k: Int): Seq[Long] =
    corpus.map { case (id, v) =>
      var d = 0.0; var i = 0
      while (i < Dim) { d += v(i) * q(i); i += 1 }
      (id, d)
    }.sortBy(x => (-x._2, x._1)).take(k).map(_._1)
}
