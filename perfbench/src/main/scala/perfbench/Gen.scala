package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated `lineitem` row (TPC-H column names and types). */
final case class LineItem(
    l_orderkey: Long,
    l_partkey: Long,
    l_suppkey: Long,
    l_linenumber: Int,
    l_quantity: Double,
    l_extendedprice: Double,
    l_discount: Double,
    l_tax: Double,
    l_returnflag: String,
    l_linestatus: String,
    l_shipdate: LocalDate,
    l_shipyear: Int)

/** One generated `documents` row (the query library's schema). */
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Seeded `lineitem` generator. Row `i` is a pure function of
  * `(seed, i, recent)`, so Spark tasks generate the table and the
  * driver's [[Model]] predicts every count without reading it back.
  *
  * Orders carry four lines; `l_orderkey` grows with the row index while
  * order dates are drawn independently, so order keys are uncorrelated
  * with the `l_shipdate` sort key, as in TPC-H. */
object Gen {
  val LinesPerOrder = 4
  val FirstOrderDay: Int = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val LastOrderDay: Int = LocalDate.of(1998, 8, 2).toEpochDay.toInt
  /** Orders of "recent" appends fall in the latest ship year. */
  val RecentFirstOrderDay: Int = LocalDate.of(1998, 1, 1).toEpochDay.toInt
  val MaxShipLag = 121
  val LastShipDay: Int = LastOrderDay + MaxShipLag

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def h(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i)

  private def uniform(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, stream, i), n.toLong).toInt

  def orderKey(i: Long): Long = i / LinesPerOrder + 1

  def shipDay(seed: Long, i: Long, recent: Boolean): Int = {
    val order = i / LinesPerOrder
    val orderDay =
      if (recent) RecentFirstOrderDay + uniform(seed, 1, order, LastOrderDay - RecentFirstOrderDay)
      else FirstOrderDay + uniform(seed, 1, order, LastOrderDay - FirstOrderDay)
    orderDay + 1 + uniform(seed, 2, i, MaxShipLag)
  }

  def row(seed: Long, i: Long, recent: Boolean): LineItem = {
    val ship = LocalDate.ofEpochDay(shipDay(seed, i, recent).toLong)
    val qty = 1 + uniform(seed, 3, i, 50)
    val part = 1L + uniform(seed, 4, i, 20000)
    LineItem(
      l_orderkey = orderKey(i),
      l_partkey = part,
      l_suppkey = 1L + uniform(seed, 5, i, 1000),
      l_linenumber = (i % LinesPerOrder).toInt + 1,
      l_quantity = qty.toDouble,
      l_extendedprice = qty * (900 + part % 1000) / 10.0,
      l_discount = uniform(seed, 6, i, 11) / 100.0,
      l_tax = uniform(seed, 7, i, 9) / 100.0,
      l_returnflag = "ANR".charAt(uniform(seed, 8, i, 3)).toString,
      l_linestatus = "FO".charAt(uniform(seed, 9, i, 2)).toString,
      l_shipdate = ship,
      l_shipyear = ship.getYear)
  }

  /** Rows `[from, until)` as a DataFrame of `partitions` Spark partitions. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long, recent: Boolean,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, partitions).as[Long]
      .map(i => Gen.row(seed, i, recent)).toDF()
  }

  def dateLit(day: Int): String = s"DATE'${LocalDate.ofEpochDay(day.toLong)}'"

  val DocWords = 60
  val Vocabulary = 3000

  /** Document `i`: 60 words from a 3,000-word vocabulary. One in five is
    * a near-duplicate of one of the 100 documents before it, with two
    * words changed, so the dedup pipeline has duplicates to find both
    * within a batch and against the corpus. */
  def document(seed: Long, i: Long): Document = {
    val copyOf =
      if (i > 0 && uniform(seed, 20, i, 5) == 0) Some(math.max(0L, i - 1 - uniform(seed, 21, i, 100)))
      else None
    val base = copyOf.getOrElse(i)
    val words = (0 until DocWords).map { k =>
      val from = if (copyOf.nonEmpty && (k == 7 || k == 31)) i else base
      s"w${uniform(seed, 100 + k, from, Vocabulary)}"
    }
    val text = words.mkString(" ")
    Document(i, text, if (uniform(seed, 23, i, 4) == 0) "de" else "en",
      s"src${uniform(seed, 24, i, 8)}", text.length.toLong)
  }

  def documents(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 1).as[Long].map(i => Gen.document(seed, i)).toDF()
  }
}

/** The driver's copy of the generated key columns: what the table must
  * hold after the benchmark's appends and deletes. */
final class Model(seed: Long) {
  private var n = 0
  private var ship = new Array[Int](1 << 16)
  private var key = new Array[Long](1 << 16)
  private var live = new java.util.BitSet()
  /** Row ranges written so far and order-key ranges deleted since. */
  private var segments = Vector.empty[(Long, Long, Boolean)]
  private var deletions = Vector.empty[(Long, Long)]

  /** Every row the table should hold, generated afresh. */
  def expected(spark: SparkSession, partitions: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val all = segments.map { case (from, until, recent) =>
      Gen.frame(spark, seed, from, until, recent, partitions) }.reduce(_ unionByName _)
    deletions.foldLeft(all) { case (df, (lo, hi)) =>
      df.where(!(col("l_orderkey") >= lo && col("l_orderkey") < hi)) }
  }

  def add(from: Long, until: Long, recent: Boolean): Unit = {
    segments = segments :+ ((from, until, recent))
    val m = (until - from).toInt
    if (n + m > ship.length) {
      val cap = math.max(ship.length * 2, n + m)
      ship = java.util.Arrays.copyOf(ship, cap)
      key = java.util.Arrays.copyOf(key, cap)
    }
    var i = from
    while (i < until) {
      ship(n) = Gen.shipDay(seed, i, recent)
      key(n) = Gen.orderKey(i)
      live.set(n)
      n += 1
      i += 1
    }
  }

  /** Delete `lo <= l_orderkey < hi`; returns rows deleted and the years they were in. */
  def delete(lo: Long, hi: Long): (Int, Set[Int]) = {
    deletions = deletions :+ ((lo, hi))
    var deleted = 0
    val years = scala.collection.mutable.Set.empty[Int]
    var j = live.nextSetBit(0)
    while (j >= 0) {
      if (key(j) >= lo && key(j) < hi) {
        live.clear(j)
        deleted += 1
        years += LocalDate.ofEpochDay(ship(j).toLong).getYear
      }
      j = live.nextSetBit(j + 1)
    }
    (deleted, years.toSet)
  }

  /** Live rows with `lo <= shipDay < hi`. */
  def countShip(lo: Int, hi: Int): Long = {
    var c = 0L
    var j = live.nextSetBit(0)
    while (j >= 0) {
      if (ship(j) >= lo && ship(j) < hi) c += 1
      j = live.nextSetBit(j + 1)
    }
    c
  }

  def copy(): Model = {
    val m = new Model(seed)
    m.n = n
    m.ship = ship.clone()
    m.key = key.clone()
    m.live = live.clone().asInstanceOf[java.util.BitSet]
    m.segments = segments
    m.deletions = deletions
    m
  }
}
