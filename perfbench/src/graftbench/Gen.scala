package graftbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The seeded input generator and the model every answer is checked
  * against. A row is a pure function of `(seed, row_id)`, so the model
  * never has to read back what the program wrote: the expected value of
  * any row, month aggregate or Q1 group is recomputed from the generator.
  *
  * Rows have TPC-H lineitem's shape and value domains (dbgen's ranges for
  * quantity, discount, tax, ship/commit/receipt dates, flags and modes)
  * plus a unique `row_id`. `l_orderkey` carries a seeded replica offset, so
  * two seeds differ in every row, not just in which rows the mix touches.
  */
object Gen {
  val Schema: StructType = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DecimalType(15, 2), nullable = false),
    StructField("l_extendedprice", DecimalType(15, 2), nullable = false),
    StructField("l_discount", DecimalType(15, 2), nullable = false),
    StructField("l_tax", DecimalType(15, 2), nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("l_commitdate", DateType, nullable = false),
    StructField("l_receiptdate", DateType, nullable = false),
    StructField("l_shipinstruct", StringType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  val Ddl: String = Schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  private val StartDay = LocalDate.of(1992, 1, 2).toEpochDay
  private val CurrentDay = LocalDate.of(1995, 6, 17).toEpochDay
  private val ShipDays = 2526 // dbgen: 1992-01-02 .. 1998-12-01 minus 122
  private val Instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val Words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "ironic", "final", "pending", "regular", "express", "special", "bold",
    "deposits", "requests", "accounts", "packages", "instructions", "theodolites")

  /** SplitMix64 finaliser: the only source of randomness. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, id: Long, salt: Int, bound: Int): Int =
    java.lang.Long.remainderUnsigned(mix(mix(seed * 1000003L + salt) ^ id), bound.toLong).toInt

  /** The generated row: exact integer fields (cents, percents, epoch days)
    * so the model can sum them without rounding. */
  final case class Line(
      rowId: Long, orderKey: Long, partKey: Long, suppKey: Long, lineNumber: Int,
      qtyCents: Long, priceCents: Long, discPct: Int, taxPct: Int,
      returnFlag: String, lineStatus: String,
      shipDay: Long, commitDay: Long, receiptDay: Long,
      instruct: String, mode: String, comment: String) {

    def toRow: Row = Row(rowId, orderKey, partKey, suppKey, lineNumber,
      dec(qtyCents), dec(priceCents), dec(discPct), dec(taxPct),
      returnFlag, lineStatus, java.sql.Date.valueOf(LocalDate.ofEpochDay(shipDay)),
      java.sql.Date.valueOf(LocalDate.ofEpochDay(commitDay)),
      java.sql.Date.valueOf(LocalDate.ofEpochDay(receiptDay)),
      instruct, mode, comment)

    /** The row as a SQL VALUES tuple. */
    def sqlTuple: String = {
      def d(day: Long) = s"DATE '${LocalDate.ofEpochDay(day)}'"
      s"($rowId, $orderKey, $partKey, $suppKey, $lineNumber, ${dec(qtyCents)}, " +
        s"${dec(priceCents)}, ${dec(discPct)}, ${dec(taxPct)}, '$returnFlag', " +
        s"'$lineStatus', ${d(shipDay)}, ${d(commitDay)}, ${d(receiptDay)}, " +
        s"'$instruct', '$mode', '$comment')"
    }

    def month: Int = {
      val d = LocalDate.ofEpochDay(shipDay)
      d.getYear * 12 + d.getMonthValue - 1
    }
  }

  def dec(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)

  def line(seed: Long, id: Long): Line = {
    val orderKey = id / 4 + 1 + rnd(seed, 0L, 1, 1 << 20).toLong * 8
    val partKey = 1L + rnd(seed, id, 2, 200000)
    val suppKey = 1L + rnd(seed, id, 3, 10000)
    val qty = 1 + rnd(seed, id, 4, 50)
    val retail = 90000L + (partKey / 10) % 20001 + 100 * (partKey % 1000)
    val ship = StartDay + rnd(seed, id, 5, ShipDays)
    val commit = ship - 30 + rnd(seed, id, 6, 61)
    val receipt = ship + 1 + rnd(seed, id, 7, 30)
    val flag =
      if (receipt <= CurrentDay) (if (rnd(seed, id, 8, 2) == 0) "R" else "A") else "N"
    val status = if (ship > CurrentDay) "O" else "F"
    val nWords = 2 + rnd(seed, id, 9, 4)
    val comment = (0 until nWords).map(i => Words(rnd(seed, id, 10 + i, Words.length)))
      .mkString(" ")
    Line(id, orderKey, partKey, suppKey, (id % 7).toInt + 1,
      qty * 100L, qty * retail, rnd(seed, id, 20, 11), rnd(seed, id, 21, 9),
      flag, status, ship, commit, receipt,
      Instructs(rnd(seed, id, 22, 4)), Modes(rnd(seed, id, 23, 7)), comment)
  }

  /** Rows `[from, until)` as a DataFrame, generated on the executors. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(from, until, 1L, parts).map(id => line(seed, id).toRow)
    spark.createDataFrame(rdd, Schema)
  }

  /** Writes rows `[from, until)` as `files` parquet files under `dir`. */
  def writeParquet(spark: SparkSession, seed: Long, from: Long, until: Long,
      files: Int, dir: String): Unit =
    frame(spark, seed, from, until, files).write.mode("overwrite").parquet(dir)

  /** First month (year*12 + month-1) and count of months that ship dates span. */
  val FirstMonth: Int = { val d = LocalDate.ofEpochDay(StartDay); d.getYear * 12 + d.getMonthValue - 1 }
  val Months: Int = {
    val d = LocalDate.ofEpochDay(StartDay + ShipDays - 1)
    d.getYear * 12 + d.getMonthValue - 1 - FirstMonth + 1
  }

  def monthStart(m: Int): LocalDate = LocalDate.of(m / 12, m % 12 + 1, 1)

  /** Q1's ship-date cutoff for a `delta` in days. */
  def q1Cutoff(delta: Int): LocalDate = LocalDate.of(1998, 12, 1).minusDays(delta.toLong)
}
