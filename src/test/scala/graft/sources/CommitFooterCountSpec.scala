package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** The commit paths' manifest counting comes from parquet FOOTERS
  * driver-side (r20): `appendFiles`, `overwriteTable` and
  * `appendStreamBatch` read their source exactly ONCE (the write itself)
  * and never re-read the generation they just committed — the old
  * read-back (`spark.read.parquet(dir).groupBy(_metadata...)`) was a full
  * second distributed pass over every committed batch, paid per commit at
  * 100 TB. Records-read is the discriminator (the re-read would double
  * it); the footer counts must still land EXACT in the manifest entries,
  * byte-for-byte with the files on disk.
  */
class CommitFooterCountSpec extends SparkSpec {

  private def probe[T](body: => T): (T, Int, Long) = JobProbe(spark)(body)

  private def entryChecks(cat: GraftCatalog, table: String,
      expectRows: Long, atLeastFiles: Int): Unit = {
    val data = cat.loadEntries(table).filter(_.kind == "data")
    assert(data.size >= atLeastFiles, s"expected data entries, got $data")
    assert(data.map(_.recordCount).sum == expectRows,
      s"footer record counts must be exact: $data")
    data.foreach { e =>
      val f = new java.io.File(e.path.stripPrefix("file://"))
      assert(f.isFile, s"entry path must exist on disk: ${e.path}")
      assert(e.sizeBytes == f.length,
        s"entry size must match the file on disk: $e vs ${f.length}")
      assert(e.recordCount > 0, s"zero-row files must carry no entry: $e")
    }
  }

  test("appendFiles commits with ONE job and no read-back of the written generation") {
    val root = Files.createTempDirectory("graft-footer-append").toString
    val cat = new GraftCatalog(root)
    cat.createTable("t", Nil)
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val n = src.count()
    val ((), jobs, records) = probe {
      cat.appendFiles(spark, "t", src, s"$root/out"); ()
    }
    // the write reads the source once; the old read-back doubled it
    assert(records == n, s"append must read the source exactly once " +
      s"(write), got $records records for a $n-row source")
    assert(jobs == 1, s"append commit = the write job alone, got $jobs")
    entryChecks(cat, "t", n, 1)
  }

  test("overwriteTable commits with ONE job and no read-back") {
    val root = Files.createTempDirectory("graft-footer-over").toString
    val cat = new GraftCatalog(root)
    cat.createTable("t", Nil)
    cat.appendFiles(spark, "t", spark.read.parquet(s"$sfDir/nation.parquet"),
      s"$root/out")
    val src = spark.read.parquet(s"$sfDir/region.parquet")
    val n = src.count()
    val ((), jobs, records) = probe {
      cat.overwriteTable(spark, "t", src, s"$root/out"); ()
    }
    assert(records == n, s"overwrite must read the source exactly once, " +
      s"got $records records for a $n-row source")
    assert(jobs == 1, s"overwrite commit = the write job alone, got $jobs")
    entryChecks(cat, "t", n, 1)
    assert(cat.loadEntries("t").forall(_.kind == "data"),
      "overwrite replaces the table's entries")
  }

  test("appendStreamBatch commits with ONE job and no read-back; replay skips free") {
    val root = Files.createTempDirectory("graft-footer-stream").toString
    val cat = new GraftCatalog(root)
    cat.createTable("t", Nil)
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    val n = src.count()
    val (snap, jobs, records) = probe {
      cat.appendStreamBatch(spark, "t", src, s"$root/out", "q1", 0L)
    }
    assert(snap.nonEmpty, "first batch must commit")
    assert(records == n, s"stream-batch commit must read the source " +
      s"exactly once, got $records records for a $n-row source")
    assert(jobs == 1, s"stream-batch commit = the write job alone, got $jobs")
    entryChecks(cat, "t", n, 1)
    // exactly-once: the replay of a committed batch runs NO job at all
    val (replay, rJobs, rRecords) = probe {
      cat.appendStreamBatch(spark, "t", src, s"$root/out", "q1", 0L)
    }
    assert(replay.isEmpty && rJobs == 0 && rRecords == 0,
      s"replay must skip without work: $replay, $rJobs jobs, $rRecords records")
  }
}
