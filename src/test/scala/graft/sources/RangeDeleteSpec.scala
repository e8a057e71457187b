package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.{CompactionConfig, DataFileTask}
import graft.sources.GraftCatalog.PartitionFieldDef
import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** `deleteWhereRange` — metadata-only whole-file drops for layout-aligned
  * deletes: provably-all-matching files leave the snapshot with no scan
  * and no delete file, only boundary files are scanned into position
  * deletes, and NULL handling / conservatism rules keep results exactly
  * `WHERE NOT BETWEEN`.
  */
class RangeDeleteSpec extends SparkSpec {

  import spark.implicits._

  private def newCatalog() =
    new GraftCatalog(Files.createTempDirectory("graft-rdel-cat").toString)

  private def ks(cat: GraftCatalog, table: String): Set[Long] =
    cat.scanTable(spark, table).select("k").as[Long].collect().toSet

  test("partition-aligned range drops whole files with zero delete files") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-base").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-out")}",
      CompactionConfig(targetPartitions = 2))
    val before = cat.loadEntries("t").filter(_.kind == "data")
    val coveredFiles = before.count { e =>
      val p = e.partitionVals("kt").toLong
      p == 100L || p == 200L
    }
    assert(coveredFiles > 0)

    // [100, 299] covers partitions 100 and 200 EXACTLY (plus nothing else)
    cat.deleteWhereRange(spark, "t", "k", 100, 299,
      Files.createTempDirectory("graft-rdel-d").toString)
    val after = cat.loadEntries("t")
    assert(after.count(_.kind == "posdel") == 0,
      "aligned delete must not write any position-delete file")
    assert(after.count(_.kind == "data") == before.size - coveredFiles)
    assert(ks(cat, "t") == ((1L to 99L) ++ (300L to 400L)).toSet)
  }

  test("misaligned range: covered partitions drop, boundary files get pos-deletes") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-base2").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-out2")}",
      CompactionConfig(targetPartitions = 2))
    val before = cat.loadEntries("t").filter(_.kind == "data")

    // [150, 299]: partition 200 fully covered (drops); partition 100 is
    // boundary (scan + pos-deletes); 0/300/400 untouched
    cat.deleteWhereRange(spark, "t", "k", 150, 299,
      Files.createTempDirectory("graft-rdel-d2").toString)
    val after = cat.loadEntries("t")
    assert(after.count(_.kind == "posdel") > 0)
    assert(after.count(_.kind == "data")
      == before.size - before.count(_.partitionVals("kt") == "200"))
    assert(ks(cat, "t") == ((1L to 149L) ++ (300L to 400L)).toSet)
  }

  test("mixed drop+boundary range delete reads boundary records once, no job after its write") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-once").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-once-out")}",
      CompactionConfig(targetPartitions = 2))
    val boundaryRows = cat.loadEntries("t")
      .filter(e => e.kind == "data" && e.partitionVals("kt") == "100")
      .map(_.recordCount).sum
    assert(boundaryRows == 100L)

    // [150, 299]: partition 200 drops, partition 100 is the boundary
    val (_, stray, records) = JobProbe.afterWrite(spark) {
      cat.deleteWhereRange(spark, "t", "k", 150, 299,
        Files.createTempDirectory("graft-rdel-once-d").toString)
    }
    // the referenced files are observed on the delete write and the delete
    // files are counted from their footers: nothing reads the output back
    assert(stray == 0, s"range delete started $stray jobs after its delete write")
    assert(records == boundaryRows, s"boundary records must be read once: " +
      s"$records records for $boundaryRows boundary rows")
    assert(cat.loadEntries("t").count(_.kind == "posdel") > 0)
    assert(ks(cat, "t") == ((1L to 149L) ++ (300L to 400L)).toSet)
  }

  test("stats bounds alone cannot drop a file containing NULLs") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-null").toString
    // one file fully inside [1,100] by BOUNDS but holding a null k
    (Seq.tabulate(50)(i => Some(i + 1L)) :+ Option.empty[Long])
      .map(k => (k, "x")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-nout")}",
      CompactionConfig(targetPartitions = 1, statsCols = Seq("k")))
    val stats = cat.loadEntries("t").collect {
      case e if e.kind == "data" => e.stats.get
    }
    assert(stats.exists(_.nullCounts.get("k").exists(_ > 0L)),
      "snapshot must record the non-zero null count")

    cat.deleteWhereRange(spark, "t", "k", 1, 100,
      Files.createTempDirectory("graft-rdel-nd").toString)
    // the null-k row SURVIVES (SQL: NULL predicate keeps the row); had the
    // file been metadata-dropped it would be gone
    val left = cat.scanTable(spark, "t").collect()
    assert(left.length == 1 && left.head.isNullAt(0))
    // and the null-free sibling case DOES drop by stats: fresh table
    val base2 = Files.createTempDirectory("graft-rdel-null2").toString
    (1L to 50L).map(k => (k, "x")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base2/b0")
    cat.createTable("t2",
      CompactionRunner.listParquet(s"$base2/b0").map(DataFileTask(_, 1L)))
    cat.compactTable(spark, "t2",
      s"${Files.createTempDirectory("graft-rdel-nout2")}",
      CompactionConfig(targetPartitions = 1, statsCols = Seq("k")))
    cat.deleteWhereRange(spark, "t2", "k", 1, 100,
      Files.createTempDirectory("graft-rdel-nd2").toString)
    val after2 = cat.loadEntries("t2")
    assert(after2.count(_.kind == "data") == 0 &&
      after2.count(_.kind == "posdel") == 0,
      "null-free file fully inside the range must drop metadata-only")
  }

  test("stats-less files fall back to scan + pos-deletes, exact result") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-plain").toString
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.deleteWhereRange(spark, "t", "k", 10, 20,
      Files.createTempDirectory("graft-rdel-pd").toString)
    assert(cat.loadEntries("t").count(_.kind == "posdel") > 0)
    assert(ks(cat, "t") == ((1L to 9L) ++ (21L to 100L)).toSet)
  }

  test("no-match boundary scan registers no (empty) delete files") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-nomatch").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-nm-out")}",
      CompactionConfig(targetPartitions = 2))
    // a stats-less, tuple-less straggler: boundary by conservatism, but it
    // holds NOTHING in the range — its scan matches zero rows
    val extra = Files.createTempDirectory("graft-rdel-nm-extra").toString
    (1000L to 1100L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$extra/d")
    cat.commitRewrite("t",
      CompactionRunner.listParquet(s"$extra/d")
        .map(DataFileTask(_, cat.currentSnapshotId("t") + 1)), Nil)

    cat.deleteWhereRange(spark, "t", "k", 100, 299,
      Files.createTempDirectory("graft-rdel-nm-d").toString)
    val after = cat.loadEntries("t")
    assert(after.count(_.kind == "posdel") == 0,
      "a zero-match boundary scan must not register empty delete files")
    assert(ks(cat, "t") ==
      ((1L to 99L) ++ (300L to 400L) ++ (1000L to 1100L)).toSet)
  }

  test("range-delete commits surface in the changelog as pure deletes") {
    val cat = newCatalog()
    val base = Files.createTempDirectory("graft-rdel-cdc").toString
    (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/b0")
    cat.createTable("t",
      CompactionRunner.listParquet(s"$base/b0").map(DataFileTask(_, 1L)))
    cat.setPartitionSpec("t", Seq(PartitionFieldDef("kt", "truncate[100]", "k")))
    val (s1, _) = cat.compactTable(spark, "t",
      s"${Files.createTempDirectory("graft-rdel-cout")}",
      CompactionConfig(targetPartitions = 2))
    val s2 = cat.deleteWhereRange(spark, "t", "k", 100, 299,
      Files.createTempDirectory("graft-rdel-cd").toString)
    val changes = cat.changelog(spark, "t", s1, s2)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(changes.forall(_._2 == "D"))
    assert(changes.map(_._1).toSet == (100L to 299L).toSet)
  }
}
