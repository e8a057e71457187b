package graft.sources

import graft.SparkSpec
import graft.sources.CompactionRunner.DataFileTask
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** §1.3 end-to-end: field-id-based schema evolution through the catalog —
  * rename (ids match, names differ), add-column (old files → typed nulls),
  * drop-column (pruned at scan), upsert alignment, and compaction under the
  * canonical schema.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private def idMeta(id: Int) =
    new MetadataBuilder().putLong(FieldIds.MetaKey, id.toLong).build()

  private def field(name: String, t: DataType, id: Int) =
    StructField(name, t, nullable = true, metadata = idMeta(id))

  private val schemaV1 = StructType(Seq(
    field("k", LongType, 1),
    field("qty", LongType, 2),
    field("tag", StringType, 3)))

  // v2: qty RENAMED to quantity (same id 2), tag DROPPED, note ADDED (id 4)
  private val schemaV2 = StructType(Seq(
    field("k", LongType, 1),
    field("quantity", LongType, 2),
    field("note", StringType, 4)))

  private def writeRows(dir: String, schema: StructType, rows: Seq[Seq[Any]]): String = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r: _*)).asJava, schema)
    FieldIds.withFieldIds(df).coalesce(1).write.parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .head.getPath
  }

  private def userRows(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().map(_.toSeq.toList).toSet

  test("rename/add/drop across file generations resolves by field id") {
    val work = Files.createTempDirectory("graft-evo").toString
    val cat = new GraftCatalog(s"$work/cat")
    val fileA = writeRows(s"$work/a", schemaV1,
      Seq(Seq(1L, 10L, "x"), Seq(2L, 20L, "y")))
    cat.createTable("t", Seq(DataFileTask(fileA, 1)), Some(schemaV1))

    // v1 read: names as written
    assert(userRows(cat.scanTable(spark, "t"), "k", "qty", "tag") ==
      Set(List(1L, 10L, "x"), List(2L, 20L, "y")))

    val evoId = cat.evolveSchema("t", schemaV2)
    assert(cat.schemaAt("t", evoId).get.fieldNames.toSeq ==
      Seq("k", "quantity", "note"))
    // time travel still sees the v1 schema at snapshot 1
    assert(cat.schemaAt("t", 1).get.fieldNames.toSeq == Seq("k", "qty", "tag"))

    // old file now reads under the NEW names: qty surfaces as quantity (id
    // 2), tag is gone, note is null
    assert(userRows(cat.scanTable(spark, "t"), "k", "quantity", "note") ==
      Set(List(1L, 10L, null), List(2L, 20L, null)))
    assert(!cat.scanTable(spark, "t").columns.contains("tag"))

    // a new-generation file written under v2 names/ids coexists with the old
    val fileB = writeRows(s"$work/b", schemaV2, Seq(Seq(3L, 30L, "n3")))
    cat.commitRewrite("t", Seq(DataFileTask(fileB, 2)), Nil)
    assert(userRows(cat.scanTable(spark, "t"), "k", "quantity", "note") ==
      Set(List(1L, 10L, null), List(2L, 20L, null), List(3L, 30L, "n3")))
  }

  test("upsert aligns to current ids; compaction rewrites under the canonical schema") {
    val work = Files.createTempDirectory("graft-evo2").toString
    val cat = new GraftCatalog(s"$work/cat")
    val fileA = writeRows(s"$work/a", schemaV1,
      Seq(Seq(1L, 10L, "x"), Seq(2L, 20L, "y")))
    cat.createTable("t", Seq(DataFileTask(fileA, 1)), Some(schemaV1))
    cat.evolveSchema("t", schemaV2)

    // upsert under the NEW schema: overwrite k=2, insert k=4
    import spark.implicits._
    val updates = Seq((2L, 200L, "upd"), (4L, 40L, "new"))
      .toDF("k", "quantity", "note")
    cat.upsert(spark, "t", updates, Seq("k"), s"$work/out")
    val afterUpsert = userRows(cat.scanTable(spark, "t"), "k", "quantity", "note")
    assert(afterUpsert == Set(
      List(1L, 10L, null), List(2L, 200L, "upd"), List(4L, 40L, "new")))

    // upsert data files carry the canonical ids (alignToSchema on write)
    val upsertFile = cat.loadTable("t").map(_.path).filter(_.contains("upsert-data"))
    assert(upsertFile.nonEmpty)
    val upSchema = spark.read.parquet(upsertFile.head).schema
    assert(FieldIds.idOf(upSchema("quantity")).contains(2))

    // compaction makes the merge physical, under canonical names and ids
    val (_, manifest) = cat.compactTable(spark, "t", s"$work/compacted")
    assert(manifest.outputRecordCount == 3)
    assert(userRows(cat.scanTable(spark, "t"), "k", "quantity", "note") == afterUpsert)
    val written = spark.read.parquet(cat.loadTable("t").head.path).schema
    assert(written.fieldNames.toSet == Set("k", "quantity", "note"))
    assert(FieldIds.idOf(written("quantity")).contains(2))
    assert(FieldIds.idOf(written("note")).contains(4))
  }

  test("evolveSchema rejects id-less and duplicate-id schemas; expiry drops schema files") {
    val work = Files.createTempDirectory("graft-evo3").toString
    val cat = new GraftCatalog(s"$work/cat")
    val fileA = writeRows(s"$work/a", schemaV1, Seq(Seq(1L, 10L, "x")))
    cat.createTable("t", Seq(DataFileTask(fileA, 1)), Some(schemaV1))

    intercept[IllegalArgumentException] {
      cat.evolveSchema("t", StructType(Seq(StructField("plain", LongType))))
    }
    intercept[IllegalArgumentException] {
      cat.evolveSchema("t", StructType(Seq(
        field("a", LongType, 1), field("b", LongType, 1))))
    }

    cat.evolveSchema("t", schemaV2)
    cat.evolveSchema("t", schemaV2)
    assert(cat.expireSnapshots("t", keepLast = 1) == Seq(1L, 2L))
    val left = new java.io.File(s"$work/cat/t").listFiles()
      .map(_.getName).filter(_.startsWith("schema-")).toSet
    assert(left == Set("schema-3.json"))
  }

  test("pending eq-deletes survive a key-column rename (ids recorded in the snapshot)") {
    import spark.implicits._
    // every eq-delete writer records its key ids through the same code:
    // (writer, expected rows after the rename, rows after compaction)
    val writers: Seq[(String, (GraftCatalog, String) => Unit, Set[List[Any]], Long)] = Seq(
      // upsert keyed on k BEFORE the rename: overwrite k=2
      ("upsert", (cat, out) => cat.upsert(spark, "t",
        Seq((2L, 200L, "B")).toDF("k", "qty", "tag"), Seq("k"), out),
        Set(List(1L, 10L), List(2L, 200L), List(3L, 30L)), 3L),
      ("deleteWhereEq", (cat, out) =>
        cat.deleteWhereEq(spark, "t", Seq(2L).toDF("k"), out),
        Set(List(1L, 10L), List(3L, 30L)), 2L),
      ("mergeInto", (cat, out) => cat.mergeInto(spark, "t",
        Seq((2L, 200L, "B")).toDF("k", "qty", "tag"), Seq("k"),
        Map("qty" -> col("_src_qty"), "tag" -> col("_src_tag")), out),
        Set(List(1L, 10L), List(2L, 200L), List(3L, 30L)), 3L))
    writers.foreach { case (name, write, expected, compacted) =>
      val work = Files.createTempDirectory(s"graft-evo-eqdel-$name").toString
      val cat = new GraftCatalog(s"$work/cat")
      val f1 = writeRows(s"$work/g1", schemaV1,
        Seq(Seq(1L, 10L, "a"), Seq(2L, 20L, "b"), Seq(3L, 30L, "c")))
      cat.createTable("t", Seq(CompactionRunner.DataFileTask(f1, 1L)), Some(schemaV1))
      write(cat, s"$work/out")
      // rename k -> key (same field id 1) while the eq-delete is still pending
      val renamed = StructType(Seq(
        field("key", LongType, 1),
        field("qty", LongType, 2),
        field("tag", StringType, 3)))
      cat.evolveSchema("t", renamed)
      // the scan must still apply the delete: k=2's OLD row suppressed
      val rows = userRows(cat.scanTable(spark, "t"), "key", "qty")
      assert(rows == expected, s"$name: eq-delete lost across rename: $rows")
      // and compaction applies it physically under the renamed schema
      val (_, manifest) = cat.compactTable(spark, "t", s"$work/compacted")
      assert(manifest.outputRecordCount == compacted, name)
    }
  }

  test("evolveSchema rejects resurrecting a dropped field id") {
    val work = Files.createTempDirectory("graft-evo-resurrect").toString
    val cat = new GraftCatalog(s"$work/cat")
    val f1 = writeRows(s"$work/g1", schemaV1, Seq(Seq(1L, 10L, "a")))
    cat.createTable("t", Seq(CompactionRunner.DataFileTask(f1, 1L)), Some(schemaV1))
    cat.evolveSchema("t", schemaV2) // tag (id 3) dropped
    val reuse = StructType(Seq(
      field("k", LongType, 1),
      field("quantity", LongType, 2),
      field("fresh", StringType, 3))) // id 3 reused for a NEW column
    val e = intercept[IllegalArgumentException](cat.evolveSchema("t", reuse))
    assert(e.getMessage.contains("cannot be reused"))
    // a genuinely fresh id is fine
    cat.evolveSchema("t", StructType(reuse.fields.dropRight(1) :+
      field("fresh", StringType, 5)))
  }

  test("dropped ids stay dropped after expiry forgets their schemas (monotonic mark)") {
    val work = Files.createTempDirectory("graft-evo-mark").toString
    val cat = new GraftCatalog(s"$work/cat")
    val f1 = writeRows(s"$work/g1", schemaV1, Seq(Seq(1L, 10L, "a")))
    cat.createTable("t", Seq(CompactionRunner.DataFileTask(f1, 1L)), Some(schemaV1))
    // add note (id 4), then drop it again — the only schema retaining id 4
    // is the middle snapshot's
    cat.evolveSchema("t", StructType(schemaV1.fields :+
      field("note", StringType, 4)))
    cat.evolveSchema("t", schemaV1)
    // expiry deletes the middle snapshot AND its schema file: retained
    // schemas now carry only ids 1..3, but the persisted monotonic mark
    // still remembers 4
    cat.expireSnapshots("t", keepLast = 1)
    assert(cat.snapshotIds("t").flatMap(cat.schemaAt("t", _))
      .flatMap(_.fields.flatMap(FieldIds.idOf)).toSet == Set(1, 2, 3),
      "test setup: expiry must have dropped the schema that carried id 4")
    assert(cat.nextFieldId("t") == 5,
      "fresh ids must mint past the persisted mark, not the retained scan")
    val e = intercept[IllegalArgumentException](cat.evolveSchema("t",
      StructType(schemaV1.fields :+ field("resurrected", StringType, 4))))
    assert(e.getMessage.contains("cannot be reused"))
    // id 5 (past the mark) is fine
    cat.evolveSchema("t", StructType(schemaV1.fields :+
      field("fresh", StringType, 5)))
  }

  test("type widening reads old files under the promoted type; narrowing rejected") {
    val work = Files.createTempDirectory("graft-evo-widen").toString
    val cat = new GraftCatalog(s"$work/cat")
    val v1 = StructType(Seq(
      field("k", LongType, 1),
      field("n", IntegerType, 2),
      field("x", FloatType, 3),
      field("d", DecimalType(10, 2), 4)))
    val f1 = writeRows(s"$work/g1", v1, Seq(
      Seq(1L, 10, 1.5f, new java.math.BigDecimal("12.34")),
      Seq(2L, 20, 2.5f, new java.math.BigDecimal("56.78"))))
    cat.createTable("t", Seq(DataFileTask(f1, 1L)), Some(v1))

    // Iceberg v2 promotions: int->long, float->double, decimal(10,2)->(18,2)
    val v2 = StructType(Seq(
      field("k", LongType, 1),
      field("n", LongType, 2),
      field("x", DoubleType, 3),
      field("d", DecimalType(18, 2), 4)))
    cat.evolveSchema("t", v2)
    val scanned = cat.scanTable(spark, "t")
    assert(scanned.schema("n").dataType == LongType)
    assert(scanned.schema("x").dataType == DoubleType)
    assert(scanned.schema("d").dataType == DecimalType(18, 2))
    // old int/float/decimal values surface exactly under the wide types
    assert(userRows(scanned, "k", "n", "d") == Set(
      List(1L, 10L, new java.math.BigDecimal("12.34")),
      List(2L, 20L, new java.math.BigDecimal("56.78"))))

    // narrowing and cross-type changes must fail loudly, not truncate at scan
    val narrow = StructType(v2.fields.updated(1, field("n", IntegerType, 2)))
    val e1 = intercept[IllegalArgumentException](cat.evolveSchema("t", narrow))
    assert(e1.getMessage.contains("illegal type change"))
    val crossed = StructType(v2.fields.updated(0, field("k", StringType, 1)))
    val e2 = intercept[IllegalArgumentException](cat.evolveSchema("t", crossed))
    assert(e2.getMessage.contains("illegal type change"))
    // decimal scale change is NOT a promotion even when precision grows
    val rescaled = StructType(v2.fields.updated(3, field("d", DecimalType(20, 4), 4)))
    val e3 = intercept[IllegalArgumentException](cat.evolveSchema("t", rescaled))
    assert(e3.getMessage.contains("illegal type change"))
    // top-level nullability tightening: old files may hold nulls codegen
    // would serve as garbage under nullable=false — rejected like the
    // nested case
    val required = StructType(v2.fields.updated(1,
      StructField("n", LongType, nullable = false, metadata = idMeta(2))))
    val e4 = intercept[IllegalArgumentException](cat.evolveSchema("t", required))
    assert(e4.getMessage.contains("nullability"), e4.getMessage)
  }

  test("nested promotions are legal element-wise; nested narrowing rejected") {
    val work = Files.createTempDirectory("graft-evo-nested").toString
    val cat = new GraftCatalog(s"$work/cat")
    val inner1 = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val v1 = StructType(Seq(
      field("k", LongType, 1),
      field("arr", ArrayType(IntegerType), 2),
      field("st", inner1, 3)))
    val f1 = writeRows(s"$work/g1", v1, Seq(
      Seq(1L, Seq(10, 20), org.apache.spark.sql.Row(7, "x"))))
    cat.createTable("t", Seq(DataFileTask(f1, 1L)), Some(v1))

    // legal nested promotions: array<int> -> array<long>, struct inner
    // int -> long (Iceberg promotes at any depth)
    val inner2 = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val v2 = StructType(Seq(
      field("k", LongType, 1),
      field("arr", ArrayType(LongType), 2),
      field("st", inner2, 3)))
    cat.evolveSchema("t", v2)
    val scanned = cat.scanTable(spark, "t")
    assert(scanned.schema("arr").dataType == ArrayType(LongType))
    assert(userRows(scanned, "k", "arr") == Set(List(1L, Seq(10L, 20L))))

    // nested NARROWING (array<long> -> array<int>) must fail loudly
    val narrow = StructType(v2.fields.updated(1, field("arr", ArrayType(IntegerType), 2)))
    val e1 = intercept[IllegalArgumentException](cat.evolveSchema("t", narrow))
    assert(e1.getMessage.contains("illegal type change"))
    // nested cross-type (struct inner string -> long) too
    val crossedInner = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val crossed = StructType(v2.fields.updated(2, field("st", crossedInner, 3)))
    val e2 = intercept[IllegalArgumentException](cat.evolveSchema("t", crossed))
    assert(e2.getMessage.contains("illegal type change"))
  }

  test("first-schema adoption over a schema-less table is footer-checked") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-evo-adopt").toString
    val cat = new GraftCatalog(s"$work/cat")
    // schema-LESS table: plain parquet, no canonical schema recorded
    Seq((1L, "x", 10), (2L, "y", 20)).toDF("k", "tag", "n")
      .coalesce(1).write.parquet(s"$work/data")
    val file = new java.io.File(s"$work/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    cat.createTable("t", Seq(DataFileTask(file, 1L)))

    // adopting a type the footer contradicts (string tag as LONG) would
    // null out committed data at scan — must fail at the commit instead
    val bad = StructType(Seq(
      field("k", LongType, 1),
      field("tag", LongType, 2),
      field("n", IntegerType, 3)))
    val e = intercept[IllegalArgumentException](cat.evolveSchema("t", bad))
    assert(e.getMessage.contains("first-schema adoption"), e.getMessage)

    // adopting nullable=false over an OPTIONAL footer column is the same
    // silent-garbage hole as an evolution tightening — rejected too.
    // (`tag` is OPTIONAL in the file: Spark's tuple encoder writes boxed
    // string columns nullable; `k`/`n` are REQUIRED primitives, which a
    // non-null adoption may legally claim.)
    val tight = StructType(Seq(
      field("k", LongType, 1),
      field("tag", StringType, 2).copy(nullable = false),
      field("n", IntegerType, 3)))
    val e2 = intercept[IllegalArgumentException](cat.evolveSchema("t", tight))
    assert(e2.getMessage.contains("OPTIONAL"), e2.getMessage)

    // a footer-compatible adoption (incl. the int->long widening) commits
    // and the scan serves the adopted types
    val good = StructType(Seq(
      field("k", LongType, 1),
      field("tag", StringType, 2),
      field("n", LongType, 3)))
    cat.evolveSchema("t", good)
    val scanned = cat.scanTable(spark, "t")
    assert(scanned.schema("n").dataType == LongType)
    assert(userRows(scanned, "k", "tag", "n") ==
      Set(List(1L, "x", 10L), List(2L, "y", 20L)))
  }

  test("createTable validates field ids like evolveSchema") {
    val cat = new GraftCatalog(Files.createTempDirectory("graft-evo-ct").toString)
    val idless = StructType(Seq(StructField("a", LongType)))
    val e = intercept[IllegalArgumentException](
      cat.createTable("t", Seq(CompactionRunner.DataFileTask("/x.parquet", 1L)),
        Some(idless)))
    assert(e.getMessage.contains("needs a"))
  }

}
