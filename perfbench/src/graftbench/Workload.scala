package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.GraftCatalog

/** Input sizes. `full` is what the benchmark measures; `tiny` (the size
  * of an sf0.001 lineitem) is what the self-test runs. */
final case class Sizes(compactRows: Long, compactFiles: Int, cycleQuarter: Int,
    ingestFiles: Int, readRows: Long, readEqKeys: Int, dmlRows: Long, dmlFiles: Int)

object Sizes {
  def apply(scale: String): Sizes = scale match {
    case "full" => Sizes(80000L, 16, 250, 8, 200000L, 1000, 120000L, 8)
    case "tiny" => Sizes(6000L, 8, 25, 8, 6000L, 20, 6000L, 4)
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** One workload against one catalog root, mounted through the DSv2
  * doorway as catalog `cat`. `setup` generates and stages the inputs and
  * the model; `warm` runs the untimed warm pass; `step` runs one unit
  * under the recorder; `finish` runs the end-of-run checks and returns how
  * many failed. */
abstract class Workload(spark: SparkSession, cat: String, root: String, seed: Long,
    perturb: Boolean) {
  val t = s"$cat.t"
  val gcat = new GraftCatalog(root)
  protected val rng = new SplittableRandom(Gen.mix(seed ^ 0x5EEDL))

  spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftSparkCatalog")
  spark.conf.set(s"spark.sql.catalog.$cat.root", root)

  def setup(): Unit
  def step(rec: Recorder, kind: String): Unit
  /** Unit kinds and their share of the mix. */
  def weights: Map[String, Double]
  def finish(): Int
  def liveRows: Long
  def exhausted: Boolean = false

  def sql(q: String): Array[Row] = spark.sql(q).collect()

  /** The units of the warm pass: every kind once. */
  protected def warmKinds: Seq[String] = deck.distinct

  /** Runs the warm pass through `r`, whose times nobody reads; its checks
    * count like any other. */
  def warm(r: Recorder): Unit = {
    warming = true
    try warmKinds.foreach(k => r.unit(k)(step(r, k))) finally warming = false
  }

  /** One round of the mix, in the proportions of `weights`; the loop deals
    * kinds from seeded shuffles of it, so every run draws the declared mix
    * up to its last partial round. */
  protected def deck: Seq[String]
  private val dealt = mutable.Queue[String]()
  def nextKind(): String = {
    if (dealt.isEmpty) {
      val d = deck.toArray
      for (i <- d.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val x = d(i); d(i) = d(j); d(j) = x
      }
      dealt ++= d
    }
    dealt.dequeue()
  }

  private def entries = gcat.loadEntries("t")

  private def sizeOf(e: GraftCatalog#TableEntry): Long =
    if (e.sizeBytes >= 0) e.sizeBytes
    else new java.io.File(new java.net.URI(
      if (e.path.contains(":")) e.path else s"file:${e.path}")).length()

  def storedBytesPerLiveRow(): Double = entries.map(sizeOf).sum.toDouble / liveRows

  /** The catalog's view after an op: what the traced run records. */
  def catalogCounts(): Map[String, Double] = {
    val es = entries
    Map(
      "graft.sources.GraftCatalog.data_files" -> es.count(_.kind == "data").toDouble,
      "graft.sources.GraftCatalog.delete_files" -> es.count(_.kind != "data").toDouble,
      "graft.sources.GraftCatalog.snapshot_count" -> gcat.snapshotIds("t").size.toDouble,
      "graft.sources.GraftCatalog.stored_bytes" -> es.map(sizeOf).sum.toDouble)
  }

  /** Runs one staging step and logs its time on stderr. */
  protected def timed[T](what: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally System.err.println(f"  staging $what ${(System.nanoTime() - t) / 1e6}%.0f ms")
  }

  protected def createTable(extra: String = ""): Unit =
    spark.sql(s"CREATE TABLE $t (${Gen.Ddl}) $extra")

  protected def setProps(props: String*): Unit =
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      props.map(p => s"'$p' = 'merge-on-read'").mkString(", ") + ")")

  /** Perturbs the first expected answer it is asked for outside the warm
    * pass (the self-test's negative control). */
  private var warming = false
  private var perturbed = !perturb
  protected def expect[A](v: A)(bump: A => A): A =
    if (perturbed || warming) v else { perturbed = true; bump(v) }

  protected def idList(ids: Iterable[Long]): String = ids.mkString(", ")
}

object Workload {
  def apply(name: String, spark: SparkSession, cat: String, root: String, seed: Long,
      sz: Sizes, perturb: Boolean): Workload = name match {
    case "compact" => new CompactWorkload(spark, cat, root, seed, sz, perturb)
    case "read" => new ReadWorkload(spark, cat, root, seed, sz, perturb)
    case "dml" => new DmlWorkload(spark, cat, root, seed, sz, perturb)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A fingerprint of a seed's generated rows and op mix. */
  def digest(name: String, seed: Long, sz: Sizes): String = {
    val rows = (0L until 1000L).map(i => Gen.line(seed, i).hashCode.toLong)
    val r = new SplittableRandom(Gen.mix(seed ^ 0x5EEDL))
    val mix = Seq.fill(1000)(r.nextLong())
    f"$name ${(rows ++ mix).foldLeft(17L)((h, x) => Gen.mix(h ^ x))}%016x"
  }

  /** count, sum(row_id) and a hashed sum over row ids, as the checks use. */
  def hashOf(id: Long): Long = java.lang.Math.floorMod(id * 2654435761L, 1000003L)
  val ChecksumSql = "count(*), sum(row_id), sum(pmod(row_id * 2654435761, 1000003))"
}

/** The reference's core loop on a steady-state table: stream-ingest small
  * files, commit the same number of rows as merge-on-read deletes (range
  * position deletes plus key-equality deletes), then a full compaction.
  *
  * Row ids at or above `cursor` are all live. Each cycle deletes the even
  * ids of `[cursor, cursor + 8q)` (position deletes) and every fourth odd
  * id of that window (equality deletes), 5q rows in all, and ingests 5q
  * new rows on top, so the live count stays fixed.
  */
final class CompactWorkload(spark: SparkSession, cat: String, root: String, seed: Long,
    sz: Sizes, perturb: Boolean) extends Workload(spark, cat, root, seed, perturb) {
  private val q = sz.cycleQuarter
  private var cursor = 0L
  private var top = sz.compactRows
  private var live = sz.compactRows
  private var sumIds = 0L
  private var sumHash = 0L
  private var cycle = 0
  private val ingestDir = s"$root/_ingest"
  private val ckpt = s"$root/_checkpoint"

  def liveRows: Long = live
  override def exhausted: Boolean = cursor + 8L * q > top
  // the JIT keeps speeding up the compaction path for several cycles:
  // without these the measured figures would depend on how many cycles a
  // run happens to fit
  override protected def warmKinds: Seq[String] = Seq.fill(3)("cycle")

  def setup(): Unit = {
    timed("create")(createTable())
    timed("load")(Gen.frame(spark, seed, 0L, sz.compactRows, sz.compactFiles).writeTo(t).append())
    timed("props")(setProps("write.delete.mode"))
    (0L until sz.compactRows).foreach { id => sumIds += id; sumHash += Workload.hashOf(id) }
  }

  val weights = Map("cycle" -> 1.0)
  protected def deck: Seq[String] = Seq("cycle")

  def step(rec: Recorder, kind: String): Unit = {
    cycle += 1
    val n = 5L * q
    Gen.writeParquet(spark, seed, top, top + n, sz.ingestFiles, s"$ingestDir/c$cycle")
    val ingested = rec.op("ingest") {
      val s = spark.readStream.schema(Gen.Schema).parquet(s"$ingestDir/*")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(t)
      s.awaitTermination()
      s.recentProgress.map(_.numInputRows).sum
    }
    rec.check(ingested == n, s"cycle $cycle ingested $ingested rows, expected $n")
    (top until top + n).foreach { id => sumIds += id; sumHash += Workload.hashOf(id) }
    top += n
    live += n

    val lo = cursor
    val hi = cursor + 8L * q
    rec.op("posdel")(spark.sql(
      s"DELETE FROM $t WHERE row_id >= $lo AND row_id < $hi AND row_id % 2 = 0"))
    val eqIds = (lo + 1 until hi by 8).toSeq
    rec.op("eqdel")(spark.sql(s"DELETE FROM $t WHERE row_id IN (${idList(eqIds)})"))
    ((lo until hi by 2) ++ eqIds).foreach { id => sumIds -= id; sumHash -= Workload.hashOf(id) }
    live -= 5L * q
    cursor = hi

    val (_, manifest) = rec.op("compact") {
      gcat.compactTable(spark, "t", s"$root/_data/t/c$cycle")
    }
    rec.note(
      "rows_out" -> manifest.outputRecordCount.toDouble,
      "rewritten_files" -> manifest.rewrittenFilesCount.toDouble,
      "added_files" -> manifest.addedFilesCount.toDouble,
      "rewritten_bytes" -> manifest.rewrittenBytes.toDouble,
      "failed_files" -> manifest.failedFilesCount.toDouble,
      "added_bytes" -> manifest.addedFiles.map(_.sizeBytes.toDouble).sum)
    rec.check(manifest.outputRecordCount == live,
      s"cycle $cycle compaction wrote ${manifest.outputRecordCount} rows, expected $live")
    val got = sql(s"SELECT ${Workload.ChecksumSql} FROM $t").head
    val want = (expect(live)(_ + 1), sumIds, sumHash)
    rec.check((got.getLong(0), got.getLong(1), got.getLong(2)) == want,
      s"cycle $cycle after compaction: (count, sum, hash) = $got, expected $want")
  }

  def finish(): Int = 0
}

/** Reads of one fixed snapshot: 60% point lookups by row id, 30% one-month
  * range aggregates, 10% TPC-H Q1. The table is partitioned by
  * years(l_shipdate), write-ordered by row_id, and carries position deletes
  * on 5% of rows plus equality deletes on `readEqKeys` keys.
  *
  * Range and Q1 queries cycle through a few seeded months and deltas that
  * the warm pass asks once each, so in the loop their plans always come
  * from the library's snapshot-keyed cache; point lookups ask ids drawn
  * from the whole table, so theirs are planned afresh. */
final class ReadWorkload(spark: SparkSession, cat: String, root: String, seed: Long,
    sz: Sizes, perturb: Boolean) extends Workload(spark, cat, root, seed, perturb) {
  private val n = sz.readRows
  private val eqKeys: Set[Long] = {
    val r = new SplittableRandom(Gen.mix(seed ^ 0xE0L))
    Iterator.continually(r.nextLong(n)).filter(_ % 20 != 7).distinct.take(sz.readEqKeys).toSet
  }
  private def isLive(id: Long) = id >= 0 && id < n && id % 20 != 7 && !eqKeys(id)
  def liveRows: Long = (0L until n).count(isLive).toLong

  private val Deltas = Seq(60, 90, 120)
  private val months: IndexedSeq[Int] = {
    val r = new SplittableRandom(Gen.mix(seed ^ 0x30L))
    Iterator.continually(r.nextInt(Gen.Months)).distinct.take(6).toIndexedSeq
  }
  private var ranges = 0
  private var q1s = 0
  // month -> (count, sum qty cents, sum price cents)
  private val monthAgg = Array.fill(Gen.Months)(Array(0L, 0L, 0L))
  // delta -> (flag, status) -> (sum qty, sum price, sum disc price, sum charge, count)
  private val q1 = mutable.Map[(Int, String, String), Array[BigInt]]()

  /** The answers of every query the mix can ask, from the generator's rows
    * minus the generated deletes. Computed once, outside timing. */
  private def model(): Unit = {
    val cuts = Deltas.map(d => d -> Gen.q1Cutoff(d).toEpochDay)
    var id = 0L
    while (id < n) {
      if (isLive(id)) {
        val l = Gen.line(seed, id)
        val m = monthAgg(l.month - Gen.FirstMonth)
        m(0) += 1; m(1) += l.qtyCents; m(2) += l.priceCents
        cuts.foreach { case (d, cut) =>
          if (l.shipDay <= cut) {
            val acc = q1.getOrElseUpdate((d, l.returnFlag, l.lineStatus), Array.fill(5)(BigInt(0)))
            val disc = BigInt(l.priceCents) * (100 - l.discPct)
            acc(0) += l.qtyCents; acc(1) += l.priceCents; acc(2) += disc
            acc(3) += disc * (100 + l.taxPct); acc(4) += 1
          }
        }
      }
      id += 1
    }
  }

  def setup(): Unit = {
    timed("create")(createTable("PARTITIONED BY (years(l_shipdate))"))
    timed("order")(spark.sql(s"ALTER TABLE $t WRITE ORDERED BY row_id"))
    Gen.frame(spark, seed, 0L, n, 8).createOrReplaceTempView(s"${cat}_src")
    timed("load")(spark.sql(s"INSERT INTO $t SELECT * FROM ${cat}_src"))
    timed("props")(setProps("write.delete.mode"))
    timed("posdel")(spark.sql(s"DELETE FROM $t WHERE row_id % 20 = 7"))
    timed("eqdel")(spark.sql(s"DELETE FROM $t WHERE row_id IN (${idList(eqKeys)})"))
    timed("model")(model())
  }

  val weights = Map("point" -> 0.6, "range" -> 0.3, "q1" -> 0.1)
  protected def deck: Seq[String] = Seq.fill(6)("point") ++ Seq.fill(3)("range") :+ "q1"
  override protected def warmKinds: Seq[String] =
    Seq.fill(months.size)("range") ++ Seq.fill(Deltas.size)("q1") ++ Seq.fill(6)("point")

  def step(rec: Recorder, kind: String): Unit = {
    kind match {
      case "point" =>
        val id = rng.nextLong(n)
        val rows = rec.op("point")(sql(s"SELECT * FROM $t WHERE row_id = $id"))
        rec.note("rows_returned" -> rows.length.toDouble)
        val want = if (isLive(id)) Seq(Rows.norm(expect(Gen.line(seed, id))(
          l => l.copy(qtyCents = l.qtyCents + 1)).toRow)) else Nil
        rec.check(rows.toSeq.map(Rows.norm) == want, s"point $id: ${rows.toSeq} expected $want")
      case "range" =>
        val m = months(ranges % months.size)
        ranges += 1
        val from = Gen.monthStart(Gen.FirstMonth + m)
        val rows = rec.op("range")(sql(
          s"SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM $t " +
            s"WHERE l_shipdate >= DATE '$from' AND l_shipdate < DATE '${from.plusMonths(1)}'"))
        rec.note("rows_returned" -> rows.length.toDouble)
        val e = monthAgg(m)
        val r = rows.head
        val got = (r.getLong(0), Rows.cents(r.get(1)), Rows.cents(r.get(2)))
        rec.check(got == ((e(0), e(1), e(2))), s"month $from: $got expected ${e.toSeq}")
      case "q1" =>
        val d = Deltas(q1s % Deltas.size)
        q1s += 1
        val rows = rec.op("q1")(sql(
          s"""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
             |  sum(l_extendedprice * (1 - l_discount)),
             |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
             |  avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
             |FROM $t WHERE l_shipdate <= DATE '${Gen.q1Cutoff(d)}'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin))
        rec.note("rows_returned" -> rows.length.toDouble)
        val want = q1.toSeq.collect { case ((`d`, f, s), acc) => (f, s, acc.toSeq) }.sortBy(x => (x._1, x._2))
        val got = rows.toSeq.map { r =>
          (r.getString(0), r.getString(1), Seq(Rows.scaled(r.get(2), 2), Rows.scaled(r.get(3), 2),
            Rows.scaled(r.get(4), 4), Rows.scaled(r.get(5), 6), BigInt(r.getLong(9))))
        }
        rec.check(got == want, s"q1 delta $d: $got expected $want")
    }
  }

  def finish(): Int = 0
}

/** Small statements on a merge-on-read table: INSERT VALUES, key-equality
  * DELETE, range DELETE, small UPDATE and MERGE, each followed by a point
  * read of a row it touched. Checked against an in-memory row_id -> row
  * model. */
final class DmlWorkload(spark: SparkSession, cat: String, root: String, seed: Long,
    sz: Sizes, perturb: Boolean) extends Workload(spark, cat, root, seed, perturb) {
  private val base = sz.dmlRows
  private val overlay = mutable.HashMap[Long, Option[Gen.Line]]()
  private var top = base
  private var live = base
  private var sumQty = 0L
  def liveRows: Long = live

  private def lookup(id: Long): Option[Gen.Line] =
    overlay.getOrElse(id, if (id >= 0 && id < base) Some(Gen.line(seed, id)) else None)

  private def put(id: Long, v: Option[Gen.Line]): Unit = {
    val old = lookup(id)
    live += v.size - old.size
    sumQty += v.map(_.qtyCents).getOrElse(0L) - old.map(_.qtyCents).getOrElse(0L)
    overlay(id) = v
  }

  def setup(): Unit = {
    createTable()
    Gen.frame(spark, seed, 0L, base, sz.dmlFiles).writeTo(t).append()
    setProps("write.delete.mode", "write.update.mode", "write.merge.mode")
    sumQty = (0L until base).map(id => Gen.line(seed, id).qtyCents).sum
  }

  protected def deck: Seq[String] = Seq("insert", "eqdel", "rangedel", "update", "merge")
  val weights: Map[String, Double] = deck.map(_ -> 0.2).toMap

  private def anyId(): Long = rng.nextLong(top)

  def step(rec: Recorder, kind: String): Unit = {
    val touched: Long = kind match {
      case "insert" =>
        val rows = (top until top + 1 + rng.nextInt(50)).map(Gen.line(seed, _))
        top += rows.size
        rec.op("insert")(spark.sql(s"INSERT INTO $t VALUES ${rows.map(_.sqlTuple).mkString(", ")}"))
        rows.foreach(l => put(l.rowId, Some(l)))
        rows(rng.nextInt(rows.size)).rowId
      case "eqdel" =>
        val ids = Seq.fill(1 + rng.nextInt(20))(anyId()).distinct
        rec.op("eqdel")(spark.sql(s"DELETE FROM $t WHERE row_id IN (${idList(ids)})"))
        ids.foreach(put(_, None))
        ids.head
      case "rangedel" =>
        val lo = anyId()
        rec.op("rangedel")(spark.sql(
          s"DELETE FROM $t WHERE row_id >= $lo AND row_id < ${lo + 40} AND row_id % 2 = 0"))
        (lo until lo + 40).filter(_ % 2 == 0).foreach(put(_, None))
        lo + lo % 2
      case "update" =>
        val lo = anyId()
        rec.op("update")(spark.sql(
          s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE row_id >= $lo AND row_id < ${lo + 20}"))
        (lo until lo + 20).foreach(id => lookup(id).foreach(l =>
          put(id, Some(l.copy(qtyCents = l.qtyCents + 100)))))
        lo + rng.nextInt(20)
      case "merge" =>
        val k = 1 + rng.nextInt(50)
        val old = Seq.fill(k / 2)(anyId()).distinct
        val fresh = (top until top + (k - k / 2)).toSeq
        top += fresh.size
        val src = (old ++ fresh).map { id =>
          val qty = (1 + rng.nextInt(50)) * 100L
          lookup(id).getOrElse(Gen.line(seed, id)).copy(rowId = id, qtyCents = qty)
        }
        val view = s"${cat}_merge_src"
        spark.createDataFrame(src.map(_.toRow).asJava, Gen.Schema).createOrReplaceTempView(view)
        rec.op("merge")(spark.sql(
          s"""MERGE INTO $t AS t USING $view AS s ON t.row_id = s.row_id
             |WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        src.foreach(l => put(l.rowId, Some(lookup(l.rowId).map(_.copy(qtyCents = l.qtyCents))
          .getOrElse(l))))
        src(rng.nextInt(src.size)).rowId
    }
    val rows = rec.op("readback")(sql(s"SELECT * FROM $t WHERE row_id = $touched"))
    rec.note("rows_returned" -> rows.length.toDouble)
    val want = lookup(touched).map(l => Rows.norm(expect(l)(
      x => x.copy(qtyCents = x.qtyCents + 1)).toRow)).toSeq
    rec.check(rows.toSeq.map(Rows.norm) == want,
      s"$kind read-back of $touched: ${rows.toSeq} expected $want")
  }

  def finish(): Int = {
    val r = sql(s"SELECT count(*), sum(l_quantity) FROM $t").head
    val got = (r.getLong(0), Rows.cents(r.get(1)))
    if (got == ((live, sumQty))) 0
    else { System.err.println(s"WRONG final count/sum: $got expected ${(live, sumQty)}"); 1 }
  }
}

/** Row normalisation for exact comparison. */
object Rows {
  def norm(r: Row): Seq[String] = r.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case null => "null"
    case x => x.toString
  }
  def scaled(v: Any, scale: Int): BigInt = v match {
    case d: java.math.BigDecimal => BigInt(d.setScale(scale).unscaledValue)
    case null => BigInt(0)
  }
  def cents(v: Any): Long = scaled(v, 2).toLong
}
