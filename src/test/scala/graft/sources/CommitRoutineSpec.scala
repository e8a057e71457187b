package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.CompactionRunner.{CompactionConfig, DataFileTask}
import graft.sources.GraftCatalog.{AddedFile, PartitionFieldDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Every public commit method that runs without the DSv2 doorway, one
  * after another on ONE schema'd table. Each commits through the catalog's
  * single commit routine, so each must: advance HEAD by exactly one,
  * record the schema it was committed under (HEAD's, carried — except the
  * kinds that set one: a schema change, a rollback, a fork publish), and
  * leave a table that scans.
  */
class CommitRoutineSpec extends SparkSpec {

  import spark.implicits._

  private def field(name: String, t: DataType, id: Int) =
    StructField(name, t, nullable = true, metadata =
      new MetadataBuilder().putLong(FieldIds.MetaKey, id.toLong).build())

  private val schema = StructType(Seq(
    field("k", LongType, 1), field("qty", LongType, 2), field("tag", StringType, 3)))

  private def rows(ks: Seq[Long]): DataFrame =
    ks.map(k => (k, k * 10, s"t${k % 3}")).toDF("k", "qty", "tag")

  test("every commit kind advances HEAD by one, keeps its schema, and scans") {
    val work = Files.createTempDirectory("graft-commit-routine").toString
    val cat = new GraftCatalog(s"$work/cat")
    var dirs = 0
    def out(): String = { dirs += 1; s"$work/out-$dirs" }

    /** Engine-written files, as the `AddedFile` commit paths receive them. */
    def added(df: DataFrame, dir: String = out()): Seq[AddedFile] = {
      FieldIds.alignToSchema(df, schema).coalesce(1).write.parquet(dir)
      CompactionRunner.listParquet(dir).map(p => AddedFile(p, "parquet",
        spark.read.parquet(p).count(), new java.io.File(p).length))
    }

    val seed = s"$work/seed"
    FieldIds.alignToSchema(rows(1L to 40L), schema).coalesce(1).write.parquet(seed)
    cat.createTable("t",
      CompactionRunner.listParquet(seed).map(DataFileTask(_, 1L)), Some(schema))

    /** Run one commit and check the routine's three guarantees. */
    def step(name: String, expectSchema: Long => Option[StructType] =
        cat.schemaAt("t", _))(commit: => Any): Unit = {
      val before = cat.currentSnapshotId("t")
      commit
      val after = cat.currentSnapshotId("t")
      assert(after == before + 1, s"$name: HEAD $before -> $after")
      assert(cat.schemaAt("t", after) == expectSchema(before),
        s"$name: schema ${cat.schemaAt("t", after)}")
      assert(cat.scanTable(spark, "t").collect().nonEmpty, s"$name: scan")
    }

    step("appendFiles")(cat.appendFiles(spark, "t", rows(41L to 50L), out()))
    step("commitAppend")(cat.commitAppend("t", added(rows(51L to 55L))))
    step("commitAppendAt")(cat.commitAppendAt("t", cat.currentSnapshotId("t"),
      added(rows(56L to 60L))))
    step("appendStreamBatch")(cat.appendStreamBatch(spark, "t",
      rows(61L to 65L), out(), "q1", 0L))
    step("commitStreamFiles")(cat.commitStreamFiles("t", "q2", 0L,
      added(rows(66L to 70L))))
    step("upsert")(cat.upsert(spark, "t", rows(Seq(1L)), Seq("k"), out()))
    step("deleteWhereEq")(cat.deleteWhereEq(spark, "t", Seq(2L).toDF("k"), out()))
    step("deleteWhere MoR")(cat.deleteWhere(spark, "t", col("k") === 3L, out()))
    step("deleteWhere CoW")(cat.deleteWhere(spark, "t", col("k") === 4L, out(),
      copyOnWrite = true))
    step("updateWhere MoR")(cat.updateWhere(spark, "t", col("k") === 5L,
      Map("qty" -> lit(500L)), out()))
    step("updateWhere CoW")(cat.updateWhere(spark, "t", col("k") === 6L,
      Map("qty" -> lit(600L)), out(), copyOnWrite = true))
    step("deleteWhereRange")(cat.deleteWhereRange(spark, "t", "k", 7, 8, out()))
    step("mergeInto")(cat.mergeInto(spark, "t", rows(Seq(9L, 1000L)), Seq("k"),
      Map("qty" -> col("_src_qty")), out()))
    step("overwriteWhere")(cat.overwriteWhere(spark, "t", cat.currentSnapshotId("t"),
      col("k") === 10L, added(rows(Seq(10L))), out()))
    step("commitRowDelta") {
      val posDir = out()
      cat.scanTableWithRowId(spark, "t").filter(col("k") === 11L)
        .select(col("_file").as("file_path"), col("_pos").as("pos"))
        .coalesce(1).write.parquet(posDir)
      cat.commitRowDelta("t", cat.currentSnapshotId("t"), added(rows(Seq(11L))),
        CompactionRunner.listParquet(posDir).map(AddedFile(_)))
    }
    step("commitRewrite") {
      val dir = out()
      FieldIds.alignToSchema(rows(71L to 75L), schema).coalesce(1).write.parquet(dir)
      cat.commitRewrite("t", CompactionRunner.listParquet(dir)
        .map(DataFileTask(_, cat.currentSnapshotId("t") + 1)), Nil)
    }
    step("commitReplaceFilesAt") {
      val victim = cat.loadTable("t").head.path
      cat.commitReplaceFilesAt("t", cat.currentSnapshotId("t"), Set(victim),
        added(rows(Seq(2001L))))
    }
    step("rewriteEqDeletes")(cat.rewriteEqDeletes(spark, "t", out()))
    step("compactDeleteFiles")(cat.compactDeleteFiles(spark, "t", out(),
      asDeletionVectors = true))
    step("compactTable")(cat.compactTable(spark, "t", out(),
      CompactionConfig(targetPartitions = 2)))
    cat.appendFiles(spark, "t", rows(76L to 80L), out())
    step("compactTableIncremental")(cat.compactTableIncremental(spark, "t", out()))
    step("commitDynamicOverwrite") {
      cat.setPartitionSpec("t", Seq(PartitionFieldDef("tag", "identity", "tag")))
      // rows(81) lands in tag t0, written under a Hive-layout directory
      cat.commitDynamicOverwrite("t", cat.currentSnapshotId("t"),
        added(rows(Seq(81L)), s"${out()}/tag=t0"))
    }
    step("overwriteTable")(cat.overwriteTable(spark, "t", rows(1L to 30L), out()))
    step("commitReplaceAt")(cat.commitReplaceAt("t", cat.currentSnapshotId("t"),
      added(rows(1L to 20L))))
    step("publishFork") {
      val fork = cat.forkTable("t", "audit")
      cat.appendFiles(spark, fork, rows(21L to 25L), out())
      cat.publishFork(fork)
    }

    val beforeEvolve = cat.currentSnapshotId("t")
    val evolved = StructType(schema.fields :+ field("note", StringType, 4))
    step("evolveSchema", _ => Some(evolved))(cat.evolveSchema("t", evolved))
    step("rollbackTo", _ => cat.schemaAt("t", beforeEvolve))(
      cat.rollbackTo("t", beforeEvolve))
    assert(cat.currentSchema("t").contains(schema))
  }
}
