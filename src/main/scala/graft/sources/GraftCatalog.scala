package graft.sources

import graft.sources.CompactionRunner.{
  CommitManifest, CompactionConfig, DataFileTask, EqDeleteTask, PosDeleteTask}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Minimal file-based table catalog with a snapshot chain — the stand-in for
  * the reference's SQL-backed Iceberg catalog (S8,
  * `core/src/compaction/mod.rs:183-202`) and the snapshot-expiry metadata op
  * (EP3, `compaction/mod.rs:81-87`).
  *
  * Layout under a root directory:
  * {{{
  * <root>/<table>/snap-<id>.tsv   SEGMENTED (v2): `#graft-snap-v2` then one
  *                                reference per line `seg<TAB>count<TAB>sha1`
  *                                into immutable entry segments — the
  *                                Iceberg manifest-list shape; additive
  *                                commits carry prior segments by reference
  *                                and write O(delta) metadata. Flat legacy
  *                                documents (one entry per line) still parse.
  * <root>/<table>/seg-<id>-<tok>.tsv  write-once entry segment, one entry
  *                                (data OR delete file) per line:
  *                                kind<TAB>path<TAB>seq<TAB>format<TAB>eqCols
  *                                <TAB>eqIds<TAB>stats<TAB>partition<TAB>counts
  *                                kind ∈ data|posdel|eqdel; eqCols/eqIds only
  *                                for eqdel; stats = url-encoded per-column
  *                                min/max bounds (data files written by a
  *                                stats-collecting compaction). Legacy 3/5/6-
  *                                field lines parse with the tail defaulted.
  * <root>/<table>/HEAD            current snapshot id
  * }}}
  *
  * Snapshots track DELETE files alongside data files — the reference's
  * snapshot scan runs `with_delete_file_processing_enabled(true)` and splits
  * tasks into data / pos-delete / eq-delete lists
  * (`compaction/mod.rs:121-171`); [[scanTable]] is that read path (MoR merge
  * on the fly) and [[upsert]] is the v2 row-level-update write path (new
  * data file + equality-delete file in one commit).
  *
  * All operations are driver-side metadata IO (snapshot files are one line
  * per file — the same cardinality the reference ships over its gRPC
  * wire); the data path stays fully distributed in [[CompactionRunner]].
  *
  * The current-snapshot POINTER is pluggable ([[GraftCatalog.HeadStore]]):
  * the default is the HEAD file; [[JdbcHeadStore]] keeps it as an
  * Iceberg-`JdbcCatalog`-shaped row in an embedded SQL database with
  * compare-and-swap commits — the reference's `SqlCatalog` deployment shape
  * (`core/src/compaction/mod.rs:183-202`), where the database transaction,
  * not a filesystem lock, is what serializes concurrent drivers.
  */
final class GraftCatalog(root: String,
    explicitHeadStore: Option[GraftCatalog.HeadStore] = None) {

  /** The pointer store this instance uses: the caller's explicit store,
    * else the process-wide binding for this root (a doorway catalog
    * mounted with `headstore=pg|jdbc` binds at initialize —
    * [[GraftCatalog.bindHeadStore]]), else the HEAD file.
    */
  private val headStore: Option[GraftCatalog.HeadStore] =
    explicitHeadStore.orElse(GraftCatalog.headStoreFor(root))

  /** Catalog root path (read-only; the REST façade renders snapshot
    * document mtimes as commit timestamps from it). */
  private[graft] def rootDir: String = root

  /** Per-file column bounds persisted IN the snapshot — what Iceberg keeps
    * in manifest entries (`lower_bounds`/`upper_bounds`) so a predicate can
    * skip whole files from the metadata alone. Values are the stringified
    * min/max the stats audit renders ([[CompactionRunner.DataFileStats]]).
    */
  final case class EntryStats(
      colMins: Map[String, String],
      colMaxs: Map[String, String],
      nullCounts: Map[String, Long] = Map.empty)

  /** One snapshot entry: a data file or a delete file. `partitionVals` is
    * the file's partition tuple (transform-column name → value string) —
    * Iceberg's `DataFile.partition` (`iceberg.proto:188`), the metadata
    * that lets a scan skip whole partitions without touching file stats.
    * `partitionTransforms` records the transform string each tuple value
    * was produced BY (Iceberg's per-file `partition_spec_id`,
    * `iceberg.proto:201`, flattened): partition data must be interpreted
    * by the spec that WROTE the file — after a spec evolution (e.g.
    * `truncate[100]` → `truncate[50]`) the current spec would silently
    * misread old tuples and prune wrong files.
    */
  final case class TableEntry(
      kind: String, // data | posdel | eqdel
      path: String,
      seqNum: Long,
      format: String,
      eqCols: Seq[String],
      eqIds: Seq[Int] = Nil,
      stats: Option[EntryStats] = None,
      partitionVals: Map[String, String] = Map.empty,
      partitionTransforms: Map[String, String] = Map.empty,
      // Iceberg's DataFile.record_count / file_size_in_bytes — the manifest
      // fields metadata tables and planners read without touching the file.
      // -1 = unknown (file committed by a path that didn't count it).
      recordCount: Long = -1L,
      sizeBytes: Long = -1L)

  private def toEntry(t: DataFileTask) =
    // record the manifest's file_size_in_bytes at commit time (one local
    // stat per file, driver-side — the same moment Iceberg stamps it):
    // planners and the relation's sizeInBytes broadcast estimate read it
    // from metadata forever after. Unstattable paths stay -1 (unknown).
    TableEntry("data", t.path, t.seqNum, t.format, Nil,
      sizeBytes = try {
        val f = new java.io.File(t.path)
        if (f.isFile) f.length() else -1L
      } catch { case _: SecurityException => -1L })

  private def statsOf(f: CompactionRunner.DataFileStats): Option[EntryStats] =
    if (f.colMins.isEmpty && f.colMaxs.isEmpty) None
    else Some(EntryStats(f.colMins, f.colMaxs, f.nullCounts))

  // stats TSV rendering: `enc(col):enc(min):enc(max)[:nulls]` joined with
  // `;` — URL-encoding keeps arbitrary bound strings clear of the
  // separators (and of the snapshot's tabs/newlines). The null count
  // (Iceberg's `null_value_counts`) is what lets a whole-file DELETE prove
  // "every row matches": bounds alone can't, because NULL predicate rows
  // must survive a delete.
  private def encodeStats(s: EntryStats): String = {
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    val bounded = s.colMins.keys.toSeq.sorted.flatMap { c =>
      s.colMaxs.get(c).map { mx =>
        val base = s"${enc(c)}:${enc(s.colMins(c))}:${enc(mx)}"
        s.nullCounts.get(c).fold(base)(n => s"$base:$n")
      }
    }
    // nullCount-ONLY columns (an all-null file, or a rename-strip that
    // kept counts while dropping bounds) persist as `col:::n` — the
    // paths that deliberately preserve these counts (COUNT(col)
    // answers, whole-file-delete null proofs) would otherwise lose them
    // after one snapshot round-trip. Empty bound slots decode back to
    // ABSENT bounds, never empty-string bounds.
    val countOnly = s.nullCounts.keys.toSeq.sorted
      .filterNot(c => s.colMins.contains(c) && s.colMaxs.contains(c))
      .map(c => s"${enc(c)}:::${s.nullCounts(c)}")
    (bounded ++ countOnly).mkString(";")
  }

  private def decodeStats(field: String): Option[EntryStats] =
    if (field.isEmpty) None
    else {
      def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
      val parts = field.split(";").toSeq.map { kv =>
        kv.split(":", 4) match {
          case Array(c, mn, mx, n) => (dec(c), dec(mn), dec(mx), Some(n.toLong))
          case Array(c, mn, mx) => (dec(c), dec(mn), dec(mx), None)
        }
      }
      val bounded = parts.filter(p => p._2.nonEmpty || p._3.nonEmpty)
      Some(EntryStats(
        bounded.map(p => p._1 -> p._2).toMap,
        bounded.map(p => p._1 -> p._3).toMap,
        parts.collect { case (c, _, _, Some(n)) => c -> n }.toMap))
    }

  // partition tuple TSV rendering: `enc(name)@enc(transform)=enc(value)`
  // joined with `;` — null partition values drop the `=value` tail, files
  // recorded before transform tracking drop the `@transform` part ('@' is
  // %-escaped by URL-encoding, so the separators are unambiguous)
  private def encodePartition(
      p: Map[String, String], t: Map[String, String]): String = {
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    p.keys.toSeq.sorted.map { k =>
      val key = enc(k) + t.get(k).fold("")(tr => s"@${enc(tr)}")
      Option(p(k)).fold(key)(v => s"$key=${enc(v)}")
    }.mkString(";")
  }

  private def decodePartition(field: String)
      : (Map[String, String], Map[String, String]) =
    if (field.isEmpty) (Map.empty, Map.empty)
    else {
      def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
      val parts = field.split(";").toSeq.map { kv =>
        val (key, value) = kv.split("=", 2) match {
          case Array(k, v) => (k, dec(v))
          case Array(k) => (k, null)
        }
        key.split("@", 2) match {
          case Array(n, tr) => (dec(n), Some(dec(tr)), value)
          case Array(n) => (dec(n), None, value)
        }
      }
      (parts.map(p => p._1 -> p._3).toMap,
        parts.collect { case (n, Some(tr), _) => n -> tr }.toMap)
    }

  private def tableDir(table: String) = Paths.get(root, table)
  private def headPath(table: String) = tableDir(table).resolve("HEAD")
  private def snapPath(table: String, id: Long) =
    tableDir(table).resolve(s"snap-$id.tsv")

  /** Serialize commits per table: an in-JVM striped lock (threads of one
    * driver) plus an OS file lock (concurrent drivers on shared storage) —
    * the reference's SQL catalog gets this from the database transaction;
    * a file-based chain must do it explicitly or two writers would both
    * read HEAD=n and both write snap-(n+1), losing one commit.
    */
  private def withTableLock[A](table: String)(body: => A): A = {
    // normalize the key: two catalog instances addressing the same directory
    // through different spellings ("/cat" vs "/cat/" vs relative) must hit
    // the SAME stripe, or they'd race straight into the non-reentrant file
    // lock (OverlappingFileLockException instead of serialization)
    val jvmLock = GraftCatalog.jvmLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.resolve(table).toString,
      _ => new Object)
    jvmLock.synchronized {
      Files.createDirectories(tableDir(table))
      val ch = java.nio.channels.FileChannel.open(
        tableDir(table).resolve(".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fileLock = ch.lock()
        try {
          // complete any torn streaming commit BEFORE the body reads HEAD:
          // a crash between the stream mark and the HEAD advance leaves a
          // reserved snap-(head+1) document that would make every other
          // commit's writeSnapshot collide — and the generic conflict
          // advice ("remove the unreferenced document") would LOSE a batch
          // the mark already promised durable. Rolling forward here makes
          // every locked operation see the true durable state. Guarded on
          // the marks file so pre-create flows (createTable's own lock)
          // stay no-ops on a not-yet-existing table.
          if (Files.exists(streamMarksPath(table)))
            completeTornStreamCommit(table)
          body
        } finally fileLock.release()
      } finally ch.close()
    }
  }

  /** HEAD updates go through temp-file + ATOMIC_MOVE: a plain writeString
    * truncates before writing, so a lock-free reader could observe an empty
    * HEAD mid-commit and crash on `"".toLong`.
    */
  private def writeHeadFile(table: String, id: Long): Unit = {
    val tmp = tableDir(table).resolve(s".HEAD.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, id.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, headPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def headExists(table: String): Boolean =
    headStore.fold(Files.exists(headPath(table)))(_.exists(table))

  /** O(1) existence probe — exactly [[tables]]' membership criterion (a
    * registered head pointer) without the recursive catalog walk. The
    * doorway's per-statement paths (wap fork resolution, write-factory
    * metadata fallback) probe existence constantly; `tables().contains`
    * there is O(catalog) filesystem IO per statement.
    */
  def tableExists(table: String): Boolean = headExists(table)

  /** Register a brand-new table's pointer at snapshot `id`. */
  private def createHead(table: String, id: Long): Unit =
    headStore.fold(writeHeadFile(table, id))(_.create(table, id))

  private def uuidPath(table: String) = tableDir(table).resolve("UUID")

  /** The table's creation UUID (Iceberg's `table-uuid`): minted once per
    * CREATE, copied by rename, deleted by drop — the generation
    * discriminator that tells "the same name re-created" apart from "the
    * same table". Snapshot ids restart at 1 on re-create, so any cache
    * keyed by (name, snapshot id) alone would serve a dropped table's
    * state; keying by this UUID makes that impossible. None only for
    * tables created before UUIDs were minted (any re-create mints one, so
    * the old/new generations still never share a key).
    */
  def tableUuid(table: String): Option[String] = {
    val p = uuidPath(table)
    if (Files.exists(p)) Some(Files.readString(p).trim).filter(_.nonEmpty)
    else None
  }

  /** Mint the creation UUID — called exactly once, at table/fork create. */
  private def writeTableUuid(table: String): Unit =
    Files.writeString(uuidPath(table), java.util.UUID.randomUUID().toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  /** Advance the pointer `from → to` — THE commit point. File-backed: a
    * plain atomic write (the table lock already serializes committers on
    * one filesystem). Store-backed: a compare-and-swap — if another driver
    * (one this process's locks can't see) advanced the pointer since the
    * commit read its base snapshot, the swap fails and the commit aborts
    * with a typed conflict instead of silently orphaning that driver's
    * snapshot. Iceberg's optimistic-commit protocol, provided by the SQL
    * row exactly as the reference gets it from its catalog database.
    */
  private def advanceHead(table: String, from: Long, to: Long): Unit =
    headStore match {
      case None => writeHeadFile(table, to)
      case Some(store) =>
        if (!store.cas(table, from, to)) {
          // we won the document-install race for `to` (writeSnapshot is
          // first-writer-wins) but lost the pointer: our document was never
          // referenced, so remove it — leaving it would brick the id for
          // our own retry and for the winner's next commit
          Files.deleteIfExists(snapPath(table, to))
          Files.deleteIfExists(schemaPath(table, to))
          throw GraftError.Metadata(
            s"commit conflict on $table: expected snapshot $from at the " +
              s"catalog store but another driver committed first " +
              s"(now ${store.read(table)}); re-read and retry")
        }
    }

  /** The optimistic base check: the caller read the table at `expected`,
    * and the commit may only land if HEAD (read under the table lock)
    * still sits there.
    */
  private def assertBase(table: String, expected: Option[Long], head: Long): Unit =
    expected.filter(_ != head).foreach { e =>
      throw GraftError.Metadata(
        s"commit conflict on $table: requirement expected snapshot " +
          s"$e but the table is at $head; reload and retry")
    }

  /** THE snapshot commit (the reference's `Transaction::rewrite_files` →
    * `commit`, `compaction/mod.rs:66-72`): every commit kind runs these
    * steps, in this order, under the table lock —
    *  1. read HEAD once;
    *  2. assert the optional `base` ([[assertBase]]);
    *  3. write the snapshot document `next(headEntries, nextSeq)` —
    *     `nextSeq` is one past HEAD's highest sequence number; the
    *     document reserves its id first-writer-wins ([[writeSnapshot]]);
    *  4. run `beforeHead(nextId)` (stream marks, the field-id mark);
    *  5. write the schema `schema(headSchema)` — HEAD's, carried so time
    *     travel sees the schema each snapshot was committed under, unless
    *     the commit kind supplies its own;
    *  6. [[advanceHead]].
    * `next` may refuse the commit by throwing: nothing is written before
    * it returns. Returns the new snapshot id.
    */
  private def commitLocked(
      table: String,
      base: Option[Long] = None,
      schema: Option[StructType] => Option[StructType] = identity,
      beforeHead: Long => Unit = _ => ())(
      next: (Seq[TableEntry], Long) => Seq[TableEntry]): Long = {
    val head = currentSnapshotId(table)
    assertBase(table, base, head)
    val entries = readSnapshot(table, head)
    val nextId = head + 1
    writeSnapshot(table, nextId,
      next(entries, entries.map(_.seqNum).foldLeft(0L)(math.max) + 1))
    beforeHead(nextId)
    schema(schemaAt(table, head)).foreach(writeSchema(table, nextId, _))
    advanceHead(table, head, nextId)
    nextId
  }

  /** [[commitLocked]] for callers that do not hold the table lock. */
  private def commit(
      table: String,
      base: Option[Long] = None,
      schema: Option[StructType] => Option[StructType] = identity,
      beforeHead: Long => Unit = _ => ())(
      next: (Seq[TableEntry], Long) => Seq[TableEntry]): Long =
    withTableLock(table)(commitLocked(table, base, schema, beforeHead)(next))

  def createTable(table: String, files: Seq[DataFileTask]): Unit =
    createTable(table, files, None)

  /** Create a table, optionally recording its canonical schema (field-id
    * metadata included) — the schema every subsequent snapshot carries
    * forward until an [[evolveSchema]] commit replaces it.
    */
  def createTable(
      table: String,
      files: Seq[DataFileTask],
      schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    // EVERY name validates BEFORE the lock (which would otherwise create
    // directories for the bad name): flat names too — '..' would write
    // metadata into the PARENT of the catalog root (path traversal,
    // reachable through the REST CreateTable endpoint), '.' into the
    // root itself, '_data' shadows the managed data tree, and 'a@b'
    // collides with fork naming (forks are minted only by forkTable,
    // which bypasses this entry point by design)
    validateSegments("table", table)
    if (table.contains("/")) {
      // a typo'd namespace must fail, not come into implicit being
      val parent = table.substring(0, table.lastIndexOf('/'))
      require(namespaceExists(parent), s"namespace $parent does not exist")
    }
    require(!namespaceExists(table), s"$table is a namespace, not a table")
    withTableLock(table) {
      require(!headExists(table), s"table $table already exists")
      schema.foreach { sch =>
        val topIds = sch.fields.flatMap(FieldIds.idOf)
        require(topIds.length == sch.fields.length,
          s"every field needs a ${FieldIds.MetaKey} id " +
            s"(got ${topIds.length}/${sch.fields.length})")
        val ids = FieldIds.allIds(sch)
        require(ids.distinct.length == ids.length,
          s"duplicate field ids: ${ids.mkString(",")}")
      }
      writeSnapshot(table, 1L, files.map(toEntry))
      schema.foreach { s =>
        writeSchema(table, 1L, s)
        advanceLastFieldId(table, FieldIds.allIds(s).foldLeft(0)(math.max))
      }
      writeTableUuid(table)
      createHead(table, 1L)
    }
  }

  /** IMPORT a foreign Iceberg table by metadata location — the reference's
    * upstream half (`Catalog::load_table` + the delete-file-processing
    * snapshot scan, `core/src/compaction/mod.rs:44,90-171`): parse the
    * `metadata.json`, walk each snapshot's manifest list → manifests →
    * data/delete files, and register the chain as a catalog table. Import
    * is BY REFERENCE: data, delete, and Puffin files stay at their
    * original locations (Iceberg's `register_table` semantics); only
    * catalog metadata is written under this root. The result serves every
    * read path a native table does — MoR scan with position/equality
    * deletes and deletion vectors, time travel over the imported
    * snapshots, pruning from the manifests' bounds — and every write path
    * ([[compactTable]] retires the imported delete files exactly like
    * native ones; its outputs land under THIS root).
    *
    * Snapshot mapping: the main lineage (snapshots at or before
    * `current-snapshot-id` in sequence-number order) renumbers to local
    * ids 1..N — foreign ids are arbitrary longs, local ids are this
    * catalog's commit counter, and the foreign id/sequence pair is
    * preserved where it matters: each entry keeps its manifest
    * `sequence_number`, which is what governs delete applicability.
    * Snapshots AFTER the current one (staged/branch state) do not import.
    * Schemas import with their field ids intact (the identity eq-delete
    * binding and rename robustness key on); the foreign `last-column-id`
    * seeds the monotonic field-id mark so later evolution here never
    * re-mints a foreign dropped id. Foreign table properties are adopted,
    * with `import.*` provenance keys layered on top; a fresh table UUID is
    * minted (the UUID is THIS catalog's generation discriminator — the
    * foreign one is recorded as `import.source-table-uuid`).
    *
    * Returns the local HEAD snapshot id (= the number of imported
    * snapshots).
    */
  def importTable(
      table: String,
      metadataLocation: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration(),
      historyDepth: Option[Int] = None): Long = {
    validateSegments("table", table)
    if (table.contains("/")) {
      val parent = table.substring(0, table.lastIndexOf('/'))
      require(namespaceExists(parent), s"namespace $parent does not exist")
    }
    require(!namespaceExists(table), s"$table is a namespace, not a table")
    historyDepth.foreach(d => require(d >= 1,
      s"historyDepth must be >= 1 (got $d)"))
    val meta = IcebergImport.read(metadataLocation, conf)
    // the main lineage, oldest-first: parent-snapshot-id walk when the
    // document carries ancestry, else sequence order, else (v1 documents,
    // which have no sequence numbers) timestamp order — never a raw
    // snapshot-id sort, whose arbitrary ids would scramble v1 history.
    // `historyDepth` caps the WALK COST for thousand-snapshot tables:
    // reading every snapshot's manifests is O(history × files); depth N
    // imports the head plus its N-1 nearest ancestors (the head's CONTENT
    // is always complete — depth only limits how far time travel reaches;
    // travel past the horizon fails loudly on the missing snapshot).
    val lineage = {
      val full = IcebergImport.mainLineage(meta, metadataLocation)
      historyDepth.filter(_ < full.length).fold(full)(full.takeRight)
    }
    val schemaById = meta.schemas.toMap
    withTableLock(table) {
      require(!headExists(table), s"table $table already exists")
      // refuse a NON-EMPTY directory up front: the failure cleanup below
      // wipes the table dir (minus the lock), which is only safe when
      // everything there is this registration's own partial state. A
      // leftover from an interrupted drop (or user files colocated under
      // the root) must not be silently destroyed by a failed import.
      locally {
        val dir = tableDir(table)
        if (Files.isDirectory(dir)) {
          val files = Files.list(dir)
          val leftover =
            try files.iterator().asScala
              .map(_.getFileName.toString).filterNot(_ == ".lock").toSeq
            finally files.close()
          if (leftover.nonEmpty)
            throw GraftError.Metadata(
              s"refusing to import into non-empty directory $dir " +
                s"(leftover files: ${leftover.take(5).mkString(", ")}" +
                s"${if (leftover.size > 5) ", ..." else ""}) — " +
                "remove them or drop the table first")
        }
      }
      // walk and write ONE snapshot at a time — O(one snapshot's entries)
      // memory, which is what lets a long-history million-file table
      // import at all (materializing every snapshot's full inventory
      // first would be O(history x files)). Snapshot documents are
      // write-once, so a mid-walk refusal (remote IO failure, unbindable
      // eq-delete, malformed manifest) CLEANS UP everything it wrote:
      // nothing is referenced yet (the head doesn't exist until the very
      // end), and leaving partial documents would wedge the corrected
      // retry on the write-once conflict guard.
      val createdForks = scala.collection.mutable.ListBuffer.empty[String]
      try {
        // entry ordering across the walk: each snapshot lists the entries
        // it SHARES with its predecessor first, in the predecessor's
        // order, then its own additions — so the segment prefix-carry
        // fires on appends whatever order the foreign manifests listed
        // files in. Without this, an append whose paths interleave the
        // previous inventory's sort order breaks the prefix and every
        // snapshot pays a full O(files) segment (the O(history × files)
        // metadata blowup ScalingProbe's import section measures).
        var prevOrder: Seq[TableEntry] = Nil
        lineage.zipWithIndex.foreach { case (snap, i) =>
          val lid = i + 1L
          // the schema the snapshot was committed under; snapshots without
          // a schema-id read under the document's current schema (the
          // spec's resolution rule for pre-v2 history)
          val schema = snap.schemaId.flatMap(schemaById.get)
            .orElse(schemaById.get(meta.currentSchemaId))
            .getOrElse(org.apache.spark.sql.types.StructType(Nil))
          val cur = importEntries(snap, schema, conf, meta.specsById)
          // (kind, path) is unique per snapshot: data/eqdel entries are
          // path-deduped, DV blobs regroup to one entry per sidecar
          val byKey = cur.map(e => (e.kind, e.path) -> e).toMap
          val carried = prevOrder.flatMap(p => byKey.get((p.kind, p.path)))
          val carriedKeys = carried.map(e => (e.kind, e.path)).toSet
          val ordered =
            carried ++ cur.filterNot(e => carriedKeys((e.kind, e.path)))
          writeSnapshot(table, lid, ordered)
          prevOrder = ordered
          if (schema.nonEmpty) writeSchema(table, lid, schema)
          // carry the FOREIGN commit time onto the snapshot document —
          // snapshot mtime is this catalog's timestamp domain, so
          // TIMESTAMP AS OF (and a re-export's snapshot-log) reflect the
          // original history, not the moment of import
          if (snap.timestampMs > 0)
            try Files.setLastModifiedTime(snapPath(table, lid),
              java.nio.file.attribute.FileTime.fromMillis(snap.timestampMs))
            catch { case _: java.io.IOException => () } // best-effort
        }
        advanceLastFieldId(table, math.max(meta.lastColumnId,
          meta.schemas.flatMap(s => FieldIds.allIds(s._2)).foldLeft(0)(math.max)))
        if (meta.partitionFields.nonEmpty)
          writePspecFile(table, meta.partitionFields)
        if (meta.sortColumns.nonEmpty) {
          val tmp = tableDir(table).resolve(
            s".sortorder.tmp-${Thread.currentThread().getId}")
          Files.writeString(tmp,
            meta.sortColumns.map(java.net.URLEncoder.encode(_, "UTF-8"))
              .mkString("\n"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          Files.move(tmp, sortOrderPath(table),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        writePropsFile(table, meta.properties ++ Map(
          "import.metadata-location" -> metadataLocation,
          "import.format-version" -> meta.formatVersion.toString) ++
          meta.tableUuid.map("import.source-table-uuid" -> _) ++
          historyDepth.map("import.history-depth" -> _.toString))
        // foreign tags whose target is an imported lineage snapshot,
        // remapped to the local ids ([[tagSnapshot]]'s invariants hold by
        // construction: targets retained, 'main' filtered at parse,
        // tab/newline-bearing names skipped — a weird foreign tag must
        // not block the data)
        val localIdOf = lineage.zipWithIndex
          .map { case (s, i) => s.snapshotId -> (i + 1L) }.toMap
        val importedTags = meta.tags.flatMap { case (name, fid) =>
          if (name.contains("\t") || name.contains("\n")) None
          else localIdOf.get(fid).map(name -> _)
        }
        if (importedTags.nonEmpty) writeRefs(table, importedTags)
        // statistics pointers (NDV sketches / partition stats) whose
        // snapshot imported: adopted by reference, remapped to local ids —
        // the doorway's estimateStatistics serves distinct counts from the
        // foreign sketches with zero data IO
        meta.statistics.foreach { case (fid, p, size, footer) =>
          localIdOf.get(fid).foreach(lid =>
            adoptStatistics(table, lid, p, size, footer, partition = false))
        }
        meta.partitionStatistics.foreach { case (fid, p, size) =>
          localIdOf.get(fid).foreach(lid =>
            adoptStatistics(table, lid, p, size, -1L, partition = true))
        }
        // BRANCH refs register as `table@branch` forks (the WAP staging
        // shape): an in-lineage target forks at its local snapshot; a
        // STAGED target (a snapshot after the head — the classic WAP
        // document) walks that snapshot's own manifests, and its fork
        // base is its nearest imported ancestor, so `publishFork` adopts
        // it exactly when the branch forked from the current head.
        // Targets with no importable state (absent from `snapshots`, or
        // staged with no ancestry into the lineage) skip like weird tags
        // — a foreign branch must not block the data.
        val snapById = meta.snapshots.map(s => s.snapshotId -> s).toMap
        meta.branches.foreach { case (name, fid) =>
          val ok = name.nonEmpty && !name.exists("@\t\n/".contains(_))
          val fork = s"$table@$name"
          if (ok && !headExists(fork)) {
            val plan: Option[(Seq[TableEntry],
                Option[org.apache.spark.sql.types.StructType], Long)] =
              localIdOf.get(fid) match {
                case Some(lid) =>
                  Some((loadEntriesAt(table, lid), schemaAt(table, lid), lid))
                case None =>
                  for {
                    snap <- snapById.get(fid)
                    // nearest imported ancestor via the parent walk
                    baseLid <- {
                      var cur = snap.parentSnapshotId
                      var found: Option[Long] = None
                      var guard = meta.snapshots.length + 1
                      while (cur.isDefined && found.isEmpty && guard > 0) {
                        found = cur.flatMap(localIdOf.get)
                        if (found.isEmpty)
                          cur = cur.flatMap(snapById.get)
                            .flatMap(_.parentSnapshotId)
                        guard -= 1
                      }
                      found
                    }
                  } yield {
                    val schema = snap.schemaId.flatMap(schemaById.get)
                      .orElse(schemaById.get(meta.currentSchemaId))
                    (importEntries(snap, schema.getOrElse(
                      org.apache.spark.sql.types.StructType(Nil)),
                      conf, meta.specsById), schema, baseLid)
                  }
              }
            plan.foreach { case (entries, schema, baseLid) =>
              createdForks += fork
              val init = GraftCatalog.ForkInitialSnapshotId
              withTableLock(fork) {
                writeSnapshot(fork, init, entries)
                schema.filter(_.nonEmpty).foreach(writeSchema(fork, init, _))
                writeTableUuid(fork)
                createHead(fork, init)
                writeForkBase(fork, table, baseLid)
              }
              if (meta.partitionFields.nonEmpty)
                writePspecFile(fork, meta.partitionFields)
            }
          }
        }
        writeTableUuid(table)
        createHead(table, lineage.length.toLong)
        lineage.length.toLong
      } catch {
        case e: Throwable =>
          // a failure ANYWHERE before the head exists (mid-walk refusal,
          // or a spec/props/refs/uuid write hitting disk trouble) leaves
          // nothing referenced: everything under the dir is this
          // registration's partial state (snapshot/schema documents,
          // segments, spec/sort/props/refs/uuid files) plus the lock file
          // we hold — remove the partial state so the name stays cleanly
          // creatable for the corrected retry (snapshot documents are
          // write-once; leftovers would wedge it on the conflict guard)
          // fork dirs this registration created are partial state too
          (tableDir(table) +: createdForks.toSeq.map(tableDir)).foreach { dir =>
            if (Files.isDirectory(dir)) {
              val files = Files.list(dir)
              try files.iterator().asScala
                .filterNot(_.getFileName.toString == ".lock")
                .foreach(p => try Files.deleteIfExists(p)
                  catch { case _: java.io.IOException => () })
              finally files.close()
            }
          }
          throw e
      }
    }
  }

  /** One imported snapshot's entry list: manifest list → manifests →
    * entries, `DELETED` rows skipped (`EXISTING`/`ADDED` both live), each
    * mapped onto this catalog's [[TableEntry]] model. Puffin deletion
    * vectors arrive as one manifest entry PER BLOB (the v3 shape the
    * exporter writes); they regroup to one `posdel`/`dv` entry per sidecar
    * — the shape [[scanTableFrames]] probes. An equality-delete whose
    * `equality_ids` cannot bind to the snapshot's schema REFUSES the whole
    * import: dropping the delete would resurrect rows.
    */
  private def importEntries(
      snap: IcebergImport.SnapshotRef,
      schema: org.apache.spark.sql.types.StructType,
      conf: org.apache.hadoop.conf.Configuration,
      specsById: Map[Int, Seq[IcebergImport.RawSpecField]] = Map.empty)
      : Seq[TableEntry] = {
    def fmt(f: String) = f.toLowerCase(java.util.Locale.ROOT)
    val live = IcebergManifest.readList(snap.manifestList, conf).flatMap { m =>
      // the per-file transform bindings partition pruning keys on: stock
      // manifests carry positional tuples with NO transform info — rebuild
      // it from the MANIFEST's own partition spec (per-manifest spec id,
      // the spec-evolution-safe binding), bound against the SNAPSHOT's
      // schema, but ONLY where the tuple-value representation provably
      // matches this catalog's conventions: identity/bucket/truncate over
      // integral and string sources (plain number / string renderings in
      // both dialects) and the date-ordinal family (year/month/day/hour —
      // ints since epoch in both). identity over date/timestamp SKIPS:
      // stock renders ordinals where this catalog records display strings,
      // and a misread tuple silently prunes matching files.
      val fillable: Map[String, String] =
        specsById.getOrElse(m.partitionSpecId, Nil).flatMap { f =>
          schema.fields.find(sf => FieldIds.idOf(sf).contains(f.sourceId))
            // physically-annotated sources (uuid/fixed/time/ns) SKIP:
            // their spec hash domain is the physical value (e.g. bucket
            // over uuid hashes the 16 bytes), not the mapped Spark
            // type's — a rebuilt transform would prune wrongly
            .filterNot(sf => FieldIds.physicalOf(sf).isDefined)
            .filter { sf =>
              import org.apache.spark.sql.types._
              val plain = sf.dataType match {
                case ByteType | ShortType | IntegerType | LongType |
                     StringType => true
                case _ => false
              }
              val base = f.transform.takeWhile(_ != '[')
              base match {
                case "identity" | "bucket" | "truncate" => plain
                case "year" | "month" | "day" | "hour" => true
                case _ => false
              }
            }
            .map(sf => f.name -> s"${f.transform}|${sf.name}")
        }.toMap
      // entries whose sequence_number is null INHERIT the manifest-list
      // row's (the spec's inheritance rule stock writers rely on)
      IcebergManifest.read(m.manifestPath, schema, conf,
        inheritedSeq = m.sequenceNumber).map { e =>
        if (e.content != IcebergManifest.ContentData ||
            e.partitionVals.isEmpty || fillable.isEmpty) e
        else {
          val missing = fillable.view.filterKeys(n =>
            e.partitionVals.contains(n) && !e.partitionTransforms.contains(n))
          // a RECORDED transform always wins — it names the spec that
          // actually wrote the file
          e.copy(partitionTransforms = missing.toMap ++ e.partitionTransforms)
        }
      }
    }.filter(_.status != IcebergManifest.StatusDeleted)
    // a well-formed snapshot lists each file once across its manifests; a
    // malformed one must not make the scan read a file twice (doubled
    // rows) — keep ONE entry per (content, path, referenced-data-file),
    // preferring the highest sequence number (the newest manifest's view).
    // referencedDataFile is part of the key because Puffin DV entries
    // legitimately share one sidecar path: one entry PER BLOB.
    val raw = live.groupBy(e => (e.content, e.file.path, e.referencedDataFile))
      .values.map(_.maxBy(_.sequenceNumber)).toSeq
      .sortBy(e => (e.content, e.file.path, e.referencedDataFile.getOrElse("")))
    val data = raw.filter(_.content == IcebergManifest.ContentData).map { e =>
      TableEntry("data", e.file.path, e.sequenceNumber, fmt(e.format), Nil,
        stats = statsOf(e.file),
        partitionVals = e.partitionVals,
        partitionTransforms = e.partitionTransforms,
        recordCount = e.file.recordCount, sizeBytes = e.file.sizeBytes)
    }
    val posRaw = raw.filter(_.content == IcebergManifest.ContentPositionDeletes)
    val (dvBlobs, posFiles) =
      posRaw.partition(e => fmt(e.format) == "puffin")
    val dvs = dvBlobs.groupBy(_.file.path).toSeq.sortBy(_._1)
      .map { case (p, blobs) =>
        val counts = blobs.map(_.file.recordCount)
        TableEntry("posdel", p, blobs.map(_.sequenceNumber).max, "dv", Nil,
          recordCount = if (counts.forall(_ >= 0)) counts.sum else -1L,
          sizeBytes = blobs.map(_.file.sizeBytes).max)
      }
    val pos = posFiles.map { e =>
      TableEntry("posdel", e.file.path, e.sequenceNumber, fmt(e.format), Nil,
        recordCount = e.file.recordCount, sizeBytes = e.file.sizeBytes)
    }
    val eq = raw.filter(_.content == IcebergManifest.ContentEqualityDeletes)
      .map { e =>
        val names = e.equalityIds.map(id =>
          FieldIds.nameById(schema, id).getOrElse(throw GraftError.Metadata(
            s"equality-delete ${e.file.path} keys on field id $id, which " +
              s"the snapshot's schema cannot resolve — refusing the import " +
              s"(dropping the delete would resurrect rows)")))
        TableEntry("eqdel", e.file.path, e.sequenceNumber, fmt(e.format),
          names, e.equalityIds, stats = statsOf(e.file),
          recordCount = e.file.recordCount, sizeBytes = e.file.sizeBytes)
      }
    data ++ dvs ++ pos ++ eq
  }

  // ---- table statistics (the spec's `statistics` / `partition-statistics`
  // metadata.json fields: Puffin NDV sketches + the partition-stats file) --

  private def statsPointerPath(table: String, id: Long) =
    tableDir(table).resolve(s"stats-$id.json")

  private def pstatsPointerPath(table: String, id: Long) =
    tableDir(table).resolve(s"pstats-$id.json")

  private def writeStatsPointer(
      path: java.nio.file.Path, snapshotId: Long, statsPath: String,
      fileSize: Long, footerSize: Long): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val tmp = path.resolveSibling(
      s".${path.getFileName}.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp,
      s"""{"snapshot-id":$snapshotId,"statistics-path":"${esc(statsPath)}",""" +
        s""""file-size-in-bytes":$fileSize,""" +
        s""""file-footer-size-in-bytes":$footerSize}""",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readStatsPointer(
      path: java.nio.file.Path): Option[GraftCatalog.StatsFileRef] =
    if (!Files.exists(path)) None
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(path))
      for {
        sid <- Option(n.get("snapshot-id")).map(_.asLong)
        p <- Option(n.get("statistics-path")).map(_.asText)
      } yield GraftCatalog.StatsFileRef(sid, p,
        Option(n.get("file-size-in-bytes")).map(_.asLong).getOrElse(-1L),
        Option(n.get("file-footer-size-in-bytes")).map(_.asLong).getOrElse(-1L))
    }

  private def newestPointer(
      table: String, prefix: String,
      asOf: Option[Long]): Option[java.nio.file.Path] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return None
    val bound = asOf.getOrElse(
      if (headExists(table)) currentSnapshotId(table) else return None)
    val stream = Files.list(dir)
    val best =
      try stream.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(prefix) || !n.endsWith(".json")) Iterator.empty
        else n.stripPrefix(prefix).stripSuffix(".json").toLongOption
          .filter(_ <= bound).map(_ -> p).iterator
      }.maxByOption(_._1)
      finally stream.close()
    best.map(_._2)
  }

  /** The newest recorded statistics file at or before `asOf` (stale stats
    * are served per Iceberg convention — a planner estimate, never a
    * correctness input).
    */
  def tableStatistics(
      table: String, asOf: Option[Long] = None): Option[GraftCatalog.StatsFileRef] =
    newestPointer(table, "stats-", asOf).flatMap(readStatsPointer)

  def partitionStatistics(
      table: String, asOf: Option[Long] = None): Option[GraftCatalog.StatsFileRef] =
    newestPointer(table, "pstats-", asOf).flatMap(readStatsPointer)

  /** EVERY recorded statistics pointer of one kind, ascending by snapshot
    * — ONE directory listing (the export path renders all of them; a
    * per-snapshot newest-pointer probe would list the dir O(snapshots)
    * times).
    */
  def statisticsFiles(
      table: String, partition: Boolean = false): Seq[GraftCatalog.StatsFileRef] = {
    val prefix = if (partition) "pstats-" else "stats-"
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    val paths =
      try stream.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(prefix) || !n.endsWith(".json")) Iterator.empty
        else n.stripPrefix(prefix).stripSuffix(".json").toLongOption
          .map(_ -> p).iterator
      }.toSeq.sortBy(_._1)
      finally stream.close()
    paths.flatMap(p => readStatsPointer(p._2))
  }

  /** Record a FOREIGN statistics pointer (import path — by reference,
    * like data files).
    */
  private[sources] def adoptStatistics(
      table: String, localId: Long, statsPath: String,
      fileSize: Long, footerSize: Long, partition: Boolean): Unit =
    writeStatsPointer(
      if (partition) pstatsPointerPath(table, localId)
      else statsPointerPath(table, localId),
      localId, statsPath, fileSize, footerSize)

  /** The partition-statistics rollup as a lookup: partition tuple
    * (rendered in the catalog's string form, ordered by the CURRENT
    * spec's fields) → (data rows, data bytes). What the doorway's
    * `estimateStatistics` substitutes when manifest counts are unknown
    * (imported/REST-appended files without record counts) — per-tuple
    * sizing from the stats FILE instead of giving up on the estimate.
    * One tiny parquet read per stats file per process (paths are
    * write-once; cached), None when the table has no partition stats or
    * the file is unreadable (estimates degrade, never fail).
    */
  def partitionStatsRollup(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      asOf: Option[Long] = None): Option[Map[Seq[String], (Long, Long)]] =
    partitionStatistics(table, asOf).flatMap { ref =>
      Option(GraftCatalog.pstatsRollupCache.get(ref.path)).orElse {
        val specFields = partitionSpec(table).map(_.name)
        if (specFields.isEmpty) None
        else try {
          def render(v: Any): String = v match {
            case null => null
            case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
            // with spark.sql.datetime.java8API.enabled the collect()
            // returns LocalDate — render the same epoch-day ordinal or
            // every date-keyed lookup silently misses
            case d: java.time.LocalDate => d.toEpochDay.toString
            case x => String.valueOf(x)
          }
          val rows = CompactionRunner.inferredParquet(spark, Seq(ref.path))
            .select("partition", "data_record_count",
              "total_data_file_size_in_bytes")
            .collect() // one row per partition tuple — metadata-sized
          val m = rows.map { r =>
            val p = r.getStruct(0)
            val tuple: Seq[String] = specFields.indices.toList.map(i =>
              render(p.get(p.schema.fieldIndex(specFields(i)))))
            tuple -> (r.getLong(1), r.getLong(2))
          }.toMap
          GraftCatalog.pstatsRollupCache.put(ref.path, m)
          Some(m)
        } catch { case _: Exception => None }
      }
    }

  /** Per-column NDV for the newest statistics file at or before `asOf`,
    * keyed by the SERVED snapshot's column names (blobs key by field id;
    * resolving against the asOf schema keeps a renamed column's sketch
    * bound to the name that snapshot's scan actually exposes). Footers
    * are parsed once per stats file (write-once paths — process-wide
    * cache).
    */
  def columnNdv(table: String, asOf: Option[Long] = None): Map[String, Long] =
    tableStatistics(table, asOf).map { ref =>
      // failures are not cached (a transient IO error must not pin an
      // empty footer for the process lifetime)
      val blobs = Option(GraftCatalog.statsFooterCache.get(ref.path))
        .getOrElse {
          try {
            val b = Puffin.readFooter(ref.path,
              new org.apache.hadoop.conf.Configuration())._1
            GraftCatalog.statsFooterCache.put(ref.path, b)
            b
          } catch { case _: Exception => Nil }
        }
      val schema = asOf.flatMap(schemaAt(table, _))
        .orElse(currentSchema(table))
      blobs.iterator
        .filter(_.blobType == Puffin.ThetaBlobType)
        .flatMap { b =>
          for {
            id <- b.fields.headOption
            ndv <- b.properties.get("ndv").flatMap(_.toLongOption)
            name <- schema.flatMap(FieldIds.nameById(_, id))
          } yield name -> ndv
        }.toMap
    }.getOrElse(Map.empty)

  /** Per-column equi-height histograms from the newest statistics file at
    * or before `asOf` (the opt-in `graft-histogram-v1` blobs an ANALYZE
    * with `histograms = true` records), keyed like [[columnNdv]] by the
    * served snapshot's column names. Payloads parse once per stats file
    * (write-once paths — process-wide cache keyed by field id; name
    * resolution stays per-call because it depends on the served schema).
    */
  def columnHistograms(table: String, asOf: Option[Long] = None)
      : Map[String, GraftCatalog.EquiHeightHistogram] =
    tableStatistics(table, asOf).map { ref =>
      val byId = Option(GraftCatalog.histogramCache.get(ref.path)).getOrElse {
        val conf = new org.apache.hadoop.conf.Configuration()
        val blobs = Option(GraftCatalog.statsFooterCache.get(ref.path))
          .getOrElse {
            try {
              val b = Puffin.readFooter(ref.path, conf)._1
              GraftCatalog.statsFooterCache.put(ref.path, b)
              b
            } catch { case _: Exception => Nil }
          }
        // a transient payload-read failure must NOT pin an empty result
        // for the path's lifetime (the columnNdv convention): any IO
        // throw skips caching; a MALFORMED payload (decode None) is
        // permanent for a write-once path and caches as absent
        val parsed: Option[Map[Int, GraftCatalog.EquiHeightHistogram]] =
          try Some(blobs.iterator
            .filter(_.blobType == GraftCatalog.HistogramBlobType)
            .flatMap { b =>
              for {
                id <- b.fields.headOption
                h <- GraftCatalog.decodeHistogram(
                  Puffin.readBlobPayload(ref.path, b, conf))
              } yield id -> h
            }.toMap)
          catch { case _: Exception => None }
        val m = parsed.getOrElse(Map.empty)
        // cache (even an empty map — most stats files legitimately carry
        // no histograms) only when the footer itself read clean
        if (parsed.isDefined &&
            GraftCatalog.statsFooterCache.containsKey(ref.path))
          GraftCatalog.histogramCache.put(ref.path, m)
        m
      }
      if (byId.isEmpty) Map.empty[String, GraftCatalog.EquiHeightHistogram]
      else {
        val schema = asOf.flatMap(schemaAt(table, _)).orElse(currentSchema(table))
        byId.iterator.flatMap { case (id, h) =>
          schema.flatMap(FieldIds.nameById(_, id)).map(_ -> h)
        }.toMap
      }
    }.getOrElse(Map.empty)

  /** The histogram pass behind [[computeTableStats]]: equi-height bins
    * over every NUMERIC atomic column —
    *
    *  1. ONE aggregate computing approximate percentiles + min/max/count
    *     for every column (the bin boundaries; equi-height: each bin
    *     holds ~rows/bins rows);
    *  2. per column, a 64-group hash aggregate of per-bin approx-NDVs
    *     (bin index computed row-side, one small HLL per group —
    *     measured 3× cheaper than the single-pass bins×columns
    *     conditional-aggregate shape, whose per-partition sketch count
    *     dominated).
    *
    * Heavy skew collapses adjacent boundaries — equal-endpoint bins are
    * legal (they carry the hot value's mass) and Spark's estimator
    * handles them. Columns that are all-null (or the empty table) record
    * no histogram.
    */
  private def computeHistograms(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      atomic: Seq[String]): Map[String, GraftCatalog.EquiHeightHistogram] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val numeric = atomic.filter(c =>
      schema.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _: DecimalType => true
        case _ => false
      })
    if (numeric.isEmpty) return Map.empty
    def q(c: String) = col(s"`${c.replace("`", "``")}`").cast("double")
    val nBins = GraftCatalog.HistogramBins
    val df = scanTable(spark, table)
    val quantiles = (1 until nBins).map(_.toDouble / nBins)
    // accuracy 1000: rank error ~n/1000, well inside the n/64 bin width —
    // boundary placement noise the estimator tolerates by construction
    val pass1 = numeric.flatMap(c => Seq(
      percentile_approx(q(c), lit(quantiles.toArray), lit(1000)).as(s"qs_$c"),
      min(q(c)).as(s"mn_$c"), max(q(c)).as(s"mx_$c"),
      count(q(c)).as(s"n_$c")))
    val r1 = df.agg(pass1.head, pass1.tail: _*).head()
    val boundsOf: Seq[(String, Array[Double])] = numeric.flatMap { c =>
      if (r1.isNullAt(r1.fieldIndex(s"mn_$c"))) None // all-null column
      else {
        val mid = r1.getSeq[Double](r1.fieldIndex(s"qs_$c"))
        Some(c -> ((r1.getDouble(r1.fieldIndex(s"mn_$c")) +: mid) :+
          r1.getDouble(r1.fieldIndex(s"mx_$c"))).toArray)
      }
    }
    if (boundsOf.isEmpty) return Map.empty
    boundsOf.map { case (c, bounds) =>
      // row-side bin index (count of strictly-smaller interior
      // boundaries), then a 64-group hash agg: one small HLL per bin
      val bin = bounds.toSeq.drop(1).dropRight(1).foldLeft(lit(0)) {
        (acc, b) => acc + when(q(c) > b, 1).otherwise(0)
      }
      val perBin: Map[Int, Long] = df.filter(q(c).isNotNull)
        .groupBy(bin.as("b"))
        .agg(approx_count_distinct(q(c), 0.1).as("ndv"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = r1.getLong(r1.fieldIndex(s"n_$c"))
      val bins = (0 until nBins).map(i =>
        (bounds(i), bounds(i + 1), perBin.getOrElse(i, 0L)))
      c -> GraftCatalog.EquiHeightHistogram(n.toDouble / nBins, bins)
    }.toMap
  }

  /** ANALYZE: one distributed pass over the current snapshot sketching
    * every atomic column with a REAL Apache-DataSketches theta sketch
    * ([[graft.functions.ThetaNdvSketch]] — map tasks keep bounded
    * sketches, the exchange carries sketch bytes, never raw values),
    * written as a Puffin statistics file whose blob payloads are the
    * compact ordered sketches themselves (stock-heapifiable) with the
    * estimate in the standard `ndv` property, plus — for partitioned
    * tables — the spec's partition-statistics file, computed driver-side
    * from the entry inventory (counts/sizes per partition tuple:
    * metadata-sized, no data IO). Returns column → NDV estimate.
    */
  def computeTableStats(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      incremental: Boolean = false,
      histograms: Boolean = false): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.hadoop.conf.Configuration()
    val head = currentSnapshotId(table)
    val schema = currentSchema(table).getOrElse(
      org.apache.spark.sql.types.StructType(
        scanTable(spark, table).schema.fields.toIndexedSeq))
    // INCREMENTAL mode — the 100 TB answer to per-snapshot statistics:
    // theta sketches UNION exactly, so re-analysis sketches only the data
    // files ADDED since the previous statistics snapshot and merges with
    // the recorded per-column sketches. Rows deleted since then are not
    // subtracted (theta cannot remove) — the estimate goes stale-high,
    // the same convention stock Iceberg stats carry. Falls back to the
    // full pass when no prior stats exist or they cannot be read.
    val prior: Option[(Long, Map[Int, Array[Byte]])] =
      if (!incremental) None
      else tableStatistics(table).flatMap { ref =>
        try {
          val blobs = Puffin.readFooter(ref.path, conf)._1
            .filter(_.blobType == Puffin.ThetaBlobType)
            // a spec-legal COMPRESSED foreign blob (lz4/zstd) would load
            // as raw bytes here but blow up only later, inside the merge —
            // treat any compression-codec property as "no usable prior"
            // so the ANALYZE degrades to mode=full instead of failing
            .filter(!_.properties.contains("compression-codec"))
          val payloads = blobs.flatMap(b => b.fields.headOption.map(
            _ -> Puffin.readBlobPayload(ref.path, b, conf))).toMap
          if (payloads.isEmpty) None else Some(ref.snapshotId -> payloads)
        } catch { case _: Exception => None }
      }
    val newTasks: Option[Seq[CompactionRunner.DataFileTask]] =
      prior.flatMap { case (sid, _) =>
        try {
          val before = loadEntriesAt(table, sid)
            .filter(_.kind == "data").map(_.path).toSet
          Some(loadEntries(table).filter(e =>
            e.kind == "data" && !before(e.path)).map(e =>
            CompactionRunner.DataFileTask(e.path, e.seqNum, e.format)))
        } catch { case _: Exception => None } // expired base -> full pass
      }
    val atomic = schema.fields.filter(_.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }).map(_.name).toSeq
    require(atomic.nonEmpty, s"$table has no atomic columns to analyze")
    def sketchOf(df: org.apache.spark.sql.DataFrame): Map[String, Array[Byte]] = {
      val aggs = atomic.map(c =>
        graft.functions.ThetaNdvSketch.sketch(
          col(s"`${c.replace("`", "``")}`"),
          schema.fields.find(_.name == c)).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      atomic.map(c => c -> row.getAs[Array[Byte]](c)).toMap
    }
    def fullPass(): Seq[(String, Array[Byte])] = {
      val all = sketchOf(scanTable(spark, table))
      atomic.map(c => c -> all(c))
    }
    val sketches: Seq[(String, Array[Byte])] = newTasks match {
      case Some(tasks) =>
        // the delta pass: scan ONLY the added files (empty delta = no
        // scan at all), then union per column with the prior sketch.
        // Any failure HEAPIFYING or MERGING an adopted prior payload
        // (a malformed or non-theta foreign blob that slipped the
        // codec guard) degrades to the full pass, never fails ANALYZE.
        try {
          val fresh: Map[String, Array[Byte]] =
            if (tasks.isEmpty) Map.empty
            else sketchOf(CompactionRunner
              .scanPlainGroups(spark, tasks, Some(schema))
              .reduce(_ unionByName _))
          val priorById = prior.get._2
          atomic.flatMap { c =>
            val prev = schema.fields.find(_.name == c)
              .flatMap(FieldIds.idOf).flatMap(priorById.get)
            (prev, fresh.get(c)) match {
              case (Some(a), Some(b)) =>
                Some(c -> graft.functions.ThetaNdvSketch.merge(a, b))
              case (Some(a), None) => Some(c -> a)
              case (None, Some(b)) => Some(c -> b) // column ADDED since:
              // old files hold only nulls for it, so the delta sketch is
              // already the whole truth
              case (None, None) => None
            }
          }
        } catch { case _: Exception => fullPass() }
      case None => fullPass()
    }
    val ndvs: Seq[(String, Long)] = sketches.map { case (c, payload) =>
      c -> graft.functions.ThetaNdvSketch.estimate(payload)
    }
    // equi-height HISTOGRAMS — the CBO tier past NDV + bounds (skewed
    // RANGE selectivity): opt-in per call, and STICKY across re-analysis
    // (a statsSweep re-ANALYZE of a table whose recorded stats carry
    // histogram blobs recomputes them — requesting once keeps them
    // maintained). Always a full pass over the numeric columns:
    // histograms don't union, so incremental mode pays the extra scan
    // only when histograms were asked for. Iceberg itself stops at
    // sketches — the blob type is a documented graft extension.
    val wantHistograms = histograms || tableStatistics(table).exists { ref =>
      Option(GraftCatalog.statsFooterCache.get(ref.path)).getOrElse {
        try {
          val b = Puffin.readFooter(ref.path, conf)._1
          GraftCatalog.statsFooterCache.put(ref.path, b)
          b
        } catch { case _: Exception => Nil }
      }.exists(_.blobType == GraftCatalog.HistogramBlobType)
    }
    val histos: Map[String, GraftCatalog.EquiHeightHistogram] =
      if (!wantHistograms) Map.empty
      else computeHistograms(spark, table, schema, atomic)
    // Re-ANALYZE at an unchanged head must NOT rewrite the previous stats
    // file in place: Puffin footers are cached process-wide BY PATH
    // (statsFooterCache, justified by write-once paths), and ANOTHER
    // process on the same root (e.g. a RestCatalogServer) may hold the
    // old footer's blob offsets — reading a rewritten file through them
    // yields silently-garbage sketch bytes. A per-write generation
    // suffix (epoch millis, bumped on collision) keeps every stats file
    // write-once; the pointer indirects, and superseded generations are
    // deleted AFTER the pointer swap so a stale cross-process reader
    // fails cleanly (FileNotFound -> "no stats") instead of decoding
    // garbage. Millis never repeat after a delete unless the clock runs
    // backwards, so a freed path is never reused. The pointer swap and
    // generation sweep run under the table lock: two same-process
    // ANALYZEs otherwise interleave list/write/sweep and one can delete
    // the generation the other's pointer just published (the distributed
    // sketch pass above stays OUTSIDE the lock — only the metadata tail
    // serializes).
    withTableLock(table) {
    // superseded generations of one stats kind (+ the legacy un-suffixed
    // name) — shared by the Puffin and partition-stats sweeps so the two
    // listings cannot drift
    def generations(prefix: String, legacy: String, ext: String)
        : Seq[java.nio.file.Path] = {
      val stream = Files.list(tableDir(table))
      try stream.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        (n.startsWith(prefix) || n == legacy) && n.endsWith(ext)
      }.toSeq
      finally stream.close()
    }
    val priorGenFiles: Seq[java.nio.file.Path] =
      generations(s"stats-$head-", s"stats-$head.puffin", ".puffin")
    val gen = Iterator.iterate(System.currentTimeMillis())(_ + 1).find(g =>
      !Files.exists(tableDir(table).resolve(s"stats-$head-$g.puffin"))).get
    val statsPath = tableDir(table).resolve(s"stats-$head-$gen.puffin").toString
    val blobs = sketches.zip(ndvs).flatMap { case ((name, payload), (_, ndv)) =>
      schema.fields.find(_.name == name).flatMap(FieldIds.idOf).map(id =>
        Puffin.BlobSpec(Puffin.ThetaBlobType, Seq(id), head, head,
          payload, Map("ndv" -> ndv.toString)))
    }
    require(blobs.nonEmpty,
      s"$table: no analyzed column carries a field id — statistics blobs " +
        "key by field id and would be unbindable")
    val histoBlobs = histos.toSeq.sortBy(_._1).flatMap { case (name, h) =>
      schema.fields.find(_.name == name).flatMap(FieldIds.idOf).map(id =>
        Puffin.BlobSpec(GraftCatalog.HistogramBlobType, Seq(id), head, head,
          GraftCatalog.encodeHistogram(h),
          Map("bins" -> h.bins.size.toString)))
    }
    val (size, footerSize) =
      Puffin.writeBlobs(statsPath, blobs ++ histoBlobs, conf)
    writeStatsPointer(statsPointerPath(table, head), head, statsPath,
      size, footerSize)
    // superseded generations (and the legacy un-suffixed path) go AFTER
    // the pointer swap — best-effort, the pointer no longer serves them
    priorGenFiles.foreach { p =>
      GraftCatalog.statsFooterCache.remove(p.toString)
      GraftCatalog.histogramCache.remove(p.toString)
      try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
    }
    // partition statistics: per-tuple rollup of the entry inventory
    val entries = loadEntries(table)
    val specDefs = partitionSpec(table)
    val specFields = specDefs.map(_.name)
    if (specFields.nonEmpty) {
      import org.apache.spark.sql.types._
      // the spec requires the partition struct typed as the UNIFIED
      // partition type (the transform's result type — int for bucket,
      // date for day, source type for identity), not strings: a stock
      // reader binds the typed struct derived from the exported spec.
      // A slot keeps its type only if EVERY recorded value parses as it
      // (catalog tuple values are strings); otherwise that slot falls
      // back to string rather than corrupting the rollup.
      val dataEntries = entries.filter(_.kind == "data")
      val srcTypeOf: Map[String, DataType] =
        schema.fields.map(f => f.name -> f.dataType).toMap
      def extVal(dt: DataType, s: String): Option[Any] =
        IcebergManifest.slotValue(dt, s).map {
          case i: Int if dt == DateType =>
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
          case i: Int if dt == ByteType => i.toByte
          case i: Int if dt == ShortType => i.toShort
          case v => v
        }
      val slotType: Map[String, DataType] = specDefs.map { d =>
        val rt = IcebergManifest
          .resultType(d.transform, srcTypeOf.getOrElse(d.source, StringType))
        d.name -> rt.filter(dt => dataEntries.forall(e =>
          e.partitionVals.get(d.name) match {
            case Some(v) if v != null => extVal(dt, v).isDefined
            case _ => true // null/absent slots carry no value to type
          })).getOrElse(StringType)
      }.toMap
      val pstruct = StructType(
        specFields.map(f => StructField(f, slotType(f))))
      val pschema = StructType(Seq(
        StructField("partition", pstruct),
        StructField("spec_id", IntegerType, nullable = false),
        StructField("data_record_count", LongType, nullable = false),
        StructField("data_file_count", IntegerType, nullable = false),
        StructField("total_data_file_size_in_bytes", LongType, nullable = false),
        StructField("position_delete_record_count", LongType, nullable = false),
        StructField("position_delete_file_count", IntegerType, nullable = false),
        StructField("equality_delete_record_count", LongType, nullable = false),
        StructField("equality_delete_file_count", IntegerType, nullable = false),
        StructField("total_record_count", LongType, nullable = false),
        StructField("last_updated_at", LongType),
        StructField("last_updated_snapshot_id", LongType)))
      val rows = dataEntries
        .groupBy(e => specFields.map(f => e.partitionVals.getOrElse(f, null)))
        .toSeq.sortBy(_._1.mkString("\u0001"))
        // a tuple with ANY unknown manifest count would roll up as a
        // zero-clamped lie — estimateStatistics substitutes these numbers
        // as CONFIDENT estimates, so a fake 0 could mis-broadcast an
        // unbounded table. Omit the tuple instead: lookups miss and the
        // estimate poisons to unknown, the conservative direction.
        .filter { case (_, es) =>
          es.forall(e => e.recordCount >= 0 && e.sizeBytes >= 0)
        }
        .map { case (tuple, es) =>
          val typed = specFields.zip(tuple).map { case (f, v) =>
            if (v == null) null
            else extVal(slotType(f), v).map(_.asInstanceOf[AnyRef]).orNull
          }
          org.apache.spark.sql.Row(
            org.apache.spark.sql.Row(typed: _*),
            // matches the exported metadata.json, which renders the
            // current spec as default-spec-id 0
            0,
            es.map(_.recordCount).sum,
            es.size,
            es.map(_.sizeBytes).sum,
            0L, 0, 0L, 0,
            es.map(_.recordCount).sum,
            null, head)
        }
      val tmpDir = tableDir(table).resolve(s".pstats-$head-tmp").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), pschema)
        .coalesce(1).write.mode("overwrite").parquet(tmpDir)
      val part = CompactionRunner.listParquet(tmpDir).head
      // same write-once discipline as the Puffin file: re-analysis at an
      // unchanged head writes a NEW generation, never rewrites in place
      val priorP: Seq[java.nio.file.Path] = generations(
        s"partition-stats-$head-", s"partition-stats-$head.parquet",
        ".parquet")
      val pPath = tableDir(table).resolve(s"partition-stats-$head-$gen.parquet")
      Files.move(java.nio.file.Paths.get(
        part.stripPrefix("file://").stripPrefix("file:")), pPath)
      // best-effort temp cleanup (crc/_SUCCESS siblings)
      val rest = Files.list(java.nio.file.Paths.get(tmpDir))
      try rest.iterator().asScala.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally rest.close()
      Files.deleteIfExists(java.nio.file.Paths.get(tmpDir))
      writeStatsPointer(pstatsPointerPath(table, head), head,
        pPath.toString, Files.size(pPath), -1L)
      priorP.foreach { p =>
        GraftCatalog.pstatsRollupCache.remove(p.toString)
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
      }
    }
    } // withTableLock
    ndvs.toMap
  }

  // ---- per-snapshot canonical schema (§1.3 schema evolution) -------------

  private def schemaPath(table: String, id: Long) =
    tableDir(table).resolve(s"schema-$id.json")

  /** The canonical schema recorded at `snapshotId`, if any. */
  def schemaAt(table: String, snapshotId: Long)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaPath(table, snapshotId)
    if (!Files.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(p))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  def currentSchema(table: String): Option[org.apache.spark.sql.types.StructType] =
    schemaAt(table, currentSnapshotId(table))

  private def writeSchema(
      table: String, id: Long,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val tmp = tableDir(table).resolve(s".schema-$id.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, schema.json,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, schemaPath(table, id),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // Iceberg's `last-column-id`: a MONOTONIC high-water mark of every field
  // id ever assigned, persisted in table metadata and advanced on every
  // schema commit. Recomputing the mark from RETAINED snapshot schemas
  // alone is unsound: expire_snapshots deletes expired snapshots' schema
  // files, so after add-column(id N) → drop → expire, nothing retained
  // remembers N — a later ADD COLUMN would re-mint N while old data files
  // in the current snapshot still physically bind it to the dropped
  // column, silently resurrecting its stale values under the new name.
  private def lastFieldIdPath(table: String) =
    tableDir(table).resolve("last-field-id")

  /** The persisted high-water mark (0 when none was ever recorded —
    * pre-existing tables fall back to the retained-schema scan).
    */
  private def persistedLastFieldId(table: String): Int = {
    val p = lastFieldIdPath(table)
    if (!Files.exists(p)) 0 else Files.readString(p).trim.toInt
  }

  /** Advance the mark to at least `candidate` (monotonic — never moves
    * backwards). Callers hold the table lock.
    */
  private def advanceLastFieldId(table: String, candidate: Int): Unit = {
    val next = math.max(persistedLastFieldId(table), candidate)
    val tmp = tableDir(table)
      .resolve(s".last-field-id.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, next.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, lastFieldIdPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every field id `table` is known to have assigned: the persisted
    * monotonic mark, floored by the retained-schema scan (covers tables
    * created before the mark existed).
    */
  private def fieldIdHighWater(table: String): Int = {
    val retained = (snapshotIds(table).flatMap(id => schemaAt(table, id)) ++
      currentSchema(table).toSeq)
      .flatMap(FieldIds.allIds)
      .foldLeft(0)(math.max)
    math.max(retained, persistedLastFieldId(table))
  }

  /** The next UNUSED field id for `table`: 1 + the high-water mark of
    * every id EVER assigned — dropped ids must never return (old files
    * still bind them), so fresh ids mint past the persisted monotonic
    * mark, not just the retained schemas' (which expiry can forget).
    */
  def nextFieldId(table: String): Int = fieldIdHighWater(table) + 1

  /** Metadata-only schema-evolution commit: same files, new canonical
    * schema. Renames keep their field ids (invisible to readers), new
    * fields get fresh ids (old files read them as nulls), removed fields'
    * ids simply leave the schema (their data is pruned at scan). Field ids
    * must be present and unique — they are the identity that makes all of
    * the above safe.
    */
  def evolveSchema(
      table: String,
      newSchema: org.apache.spark.sql.types.StructType,
      expectedHead: Option[Long] = None): Long = {
    val ids = FieldIds.allIds(newSchema)
    // the monotonic mark advances BEFORE the head moves: a crash between
    // the two leaves the mark ahead of the schema (safe — ids are merely
    // skipped), never behind (unsafe — ids could be re-minted)
    commit(table, expectedHead, schema = _ => Some(newSchema),
      beforeHead = _ => advanceLastFieldId(table, ids.foldLeft(0)(math.max))) {
      (entries, _) => evolvedEntries(table, newSchema, ids, entries)
    }
  }

  /** [[evolveSchema]]'s validation and carried entries, under the lock. */
  private def evolvedEntries(
      table: String,
      newSchema: StructType,
      ids: Seq[Int],
      entries: Seq[TableEntry]): Seq[TableEntry] = {
    val topIds = newSchema.fields.flatMap(FieldIds.idOf)
    require(topIds.length == newSchema.fields.length,
      s"every field needs a ${FieldIds.MetaKey} id (got ${topIds.length}/${newSchema.fields.length})")
    // uniqueness across EVERY depth: nested struct fields number from the
    // same global sequence as top-level columns
    require(ids.distinct.length == ids.length, s"duplicate field ids: ${ids.mkString(",")}")
    // an id may carry forward (renames) but a DROPPED id must never return:
    // old files still bind it to the old column, so a reused id would
    // silently resurface that data under the new name at evolved scans.
    // "Dropped" is judged against the PERSISTED monotonic mark, not just
    // retained schemas — expire_snapshots deletes old schema files, and an
    // id below the mark that isn't in the current schema was assigned once
    // and has left, wherever its schema document went
    val currentIds = currentSchema(table)
      .map(FieldIds.allIds(_).toSet).getOrElse(Set.empty[Int])
    val assignedEver = fieldIdHighWater(table)
    val resurrected = (ids.toSet -- currentIds).filter(_ <= assignedEver)
    require(resurrected.isEmpty,
      s"field ids ${resurrected.mkString(",")} were dropped in an earlier schema " +
        "and cannot be reused (old files would resurface their data under the new column)")
    // a type change for a surviving id must be a LEGAL promotion (Iceberg
    // v2 set: int->long, float->double, decimal precision widening) — the
    // scan casts old files to the canonical type by field id, so an
    // unchecked change (long->int, string->int) would silently truncate or
    // null out already-committed data instead of failing here
    currentSchema(table) match {
      case Some(cur) =>
        val curById = cur.fields.flatMap(f => FieldIds.idOf(f).map(_ -> f)).toMap
        newSchema.fields.foreach { nf =>
          FieldIds.idOf(nf).flatMap(curById.get).foreach { cf =>
            require(legalPromotion(cf.dataType, nf.dataType),
              s"illegal type change for field id ${FieldIds.idOf(nf).get}: " +
                s"'${cf.name}' ${cf.dataType.catalogString} -> " +
                s"'${nf.name}' ${nf.dataType.catalogString} (allowed: " +
                "int->long, float->double, decimal precision widening)")
            require(nullabilityOk(cf.nullable, nf.nullable),
              s"illegal nullability tightening for field id ${FieldIds.idOf(nf).get}: " +
                s"'${cf.name}' is nullable and old files may hold nulls the " +
                "required slot would serve as garbage (codegen trusts " +
                "nullable=false); widen only")
          }
        }
      case None =>
        // FIRST canonical schema over a schema-less table: there is no
        // field-id mapping yet, but the scan will still cast name-resolved
        // columns to the adopted types — an unchecked string->int adoption
        // would null out committed data exactly like an illegal evolution.
        // Validate BY NAME against EVERY parquet data-file footer
        // (driver-side metadata reads, milliseconds each; a multi-file
        // table may mix physical types across generations, and checking
        // only the first file would re-open the silent null-out for the
        // rest). Fields a footer can't be mapped confidently for — nested
        // groups, exotic annotations — are skipped conservatively.
        for {
          entry <- dataTasks(entries).filter(_.format == "parquet")
          fileTypes = parquetTopLevelTypes(entry.path)
          nf <- newSchema.fields
          (ft, fileNullable) <- fileTypes.get(nf.name)
        } {
          require(legalPromotion(ft, nf.dataType),
            s"illegal first-schema adoption for column '${nf.name}': data file " +
              s"${entry.path} holds ${ft.catalogString}, adopting " +
              s"${nf.dataType.catalogString} would corrupt committed data " +
              "(allowed: identity, int->long, float->double, decimal precision widening)")
          // same tightening rule as the evolution path: adopting
          // nullable=false over an OPTIONAL column whose files may hold
          // nulls would serve them as garbage under codegen's
          // non-null contract
          require(nullabilityOk(fileNullable, nf.nullable),
            s"illegal first-schema adoption for column '${nf.name}': data file " +
              s"${entry.path} declares it OPTIONAL (may hold nulls) but the " +
              "adopted schema requires it; widen the field to nullable")
        }
    }
    // RENAME hazard for name-keyed file metadata: per-file stats and null
    // counts are keyed by column NAME (the snapshot's stats encoding) but
    // column identity is the field id. After a rename — especially one
    // that REUSES a name (rename a→c, then b→a) — a name-keyed stat can
    // describe a DIFFERENT column's data, and stats pruning / COUNT(col)
    // metadata answers would consult wrong bounds, silently skipping
    // files that hold matches. Strip stats for every name on either side
    // of a rename from the carried-forward entries: conservative (those
    // columns lose pruning until their files are rewritten under the new
    // names — compaction restores it), never wrong. New writes stamp
    // stats under the new names immediately. Old snapshots keep their
    // old-name stats, which match their own schemas under time travel.
    val renamedNames: Set[String] = currentSchema(table) match {
      case Some(cur) =>
        val curNameById = cur.fields
          .flatMap(f => FieldIds.idOf(f).map(_ -> f.name)).toMap
        newSchema.fields.flatMap { nf =>
          FieldIds.idOf(nf).flatMap(curNameById.get) match {
            case Some(oldName) if oldName != nf.name => Seq(oldName, nf.name)
            case _ => Nil
          }
        }.toSet
      case None => Set.empty
    }
    entries.map { e =>
      if (renamedNames.isEmpty || e.stats.isEmpty) e
      else e.copy(stats = e.stats.map(s => EntryStats(
          s.colMins -- renamedNames, s.colMaxs -- renamedNames,
          s.nullCounts -- renamedNames))
        .filter(s => s.colMins.nonEmpty || s.nullCounts.nonEmpty))
    }
  }

  /** Top-level parquet footer fields mapped to (Spark type, nullable) —
    * nullable = the footer's OPTIONAL repetition — for the first-schema
    * adoption check. CONFIDENT mappings only (primitive fields with
    * unambiguous logical annotations); anything nested, repeated, or
    * exotically annotated is omitted and therefore skipped by the caller.
    * A driver-side footer open: single-digit milliseconds.
    */
  private def parquetTopLevelTypes(
      path: String): Map[String, (org.apache.spark.sql.types.DataType, Boolean)] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.flatMap { f =>
        if (!f.isPrimitive || f.isRepetition(
            org.apache.parquet.schema.Type.Repetition.REPEATED)) None
        else {
          val p = f.asPrimitiveType()
          val mapped: Option[DataType] = p.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
              Some(StringType)
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(DecimalType(d.getPrecision, d.getScale))
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
              Some(DateType)
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              Some(if (t.isAdjustedToUTC) TimestampType else TimestampNTZType)
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.getBitWidth == 32 && i.isSigned => Some(IntegerType)
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.getBitWidth == 64 && i.isSigned => Some(LongType)
            case null => p.getPrimitiveTypeName match {
              case BOOLEAN => Some(BooleanType)
              case INT32 => Some(IntegerType)
              case INT64 => Some(LongType)
              case FLOAT => Some(FloatType)
              case DOUBLE => Some(DoubleType)
              case BINARY => Some(BinaryType)
              case _ => None // INT96, FIXED without annotation: skip
            }
            case _ => None // unhandled annotation: skip, never guess
          }
          mapped.map(dt => f.getName -> (dt, f.isRepetition(
            org.apache.parquet.schema.Type.Repetition.OPTIONAL)))
        }
      }.toMap
    } finally reader.close()
  }

  /** Iceberg v2 type-promotion lattice (spec §Schemas: "valid type
    * promotion"): widening only, scale preserved — every old value remains
    * exactly representable under the new type. Promotion is legal at ANY
    * nesting depth (the spec promotes struct fields / array elements / map
    * values independently), so containers recurse element-wise; struct
    * comparison goes by position + name with field metadata ignored (a
    * metadata-only diff — e.g. a comment — is not a type change).
    * Container nullability may widen (required -> optional) but never
    * tighten: old files may hold nulls a newly-required slot would deny.
    */
  /** Nullability may widen (required -> optional) but never tighten: old
    * files may hold nulls a newly-required slot would deny — and Spark
    * codegen treats nullable=false as a contract, so serving null-bearing
    * data under it returns garbage, not errors. Applied at every level:
    * top-level fields (evolveSchema) and container elements (recursion).
    */
  private def nullabilityOk(fromNullable: Boolean, toNullable: Boolean): Boolean =
    toNullable || !fromNullable

  private def legalPromotion(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case (a: ArrayType, b: ArrayType) =>
        nullabilityOk(a.containsNull, b.containsNull) &&
          legalPromotion(a.elementType, b.elementType)
      case (a: MapType, b: MapType) =>
        // map keys are identity semantics — promote values only
        a.keyType == b.keyType &&
          nullabilityOk(a.valueContainsNull, b.valueContainsNull) &&
          legalPromotion(a.valueType, b.valueType)
      case (a: StructType, b: StructType) =>
        // nested EVOLUTION, not just promotion: subfields pair by field id
        // where both sides carry ids (renames keep theirs), by name
        // otherwise; an unpaired new subfield is a nested add (old rows
        // read it as null, so it must be nullable); an a-only subfield is
        // a nested drop (pruned at scan). Paired subfields follow the
        // same widening rules as top-level columns.
        val aById = a.fields.flatMap(f => FieldIds.idOf(f).map(_ -> f)).toMap
        val aHasIds = aById.nonEmpty
        b.fields.forall { bf =>
          val src = FieldIds.idOf(bf) match {
            case Some(id) if aHasIds => aById.get(id)
            case _ => a.fields.find(_.name == bf.name)
          }
          src match {
            case Some(af) =>
              nullabilityOk(af.nullable, bf.nullable) &&
                legalPromotion(af.dataType, bf.dataType)
            case None => bf.nullable
          }
        }
      case _ => false
    }
  }

  // ---- table partition spec (hidden partitioning, `iceberg.proto:47-60`) --

  private def pspecPath(table: String) = tableDir(table).resolve("pspec.tsv")

  /** Declare the table's partition spec (Iceberg `PartitionSpec`: named
    * fields, each a transform over a source column —
    * `iceberg.proto:47-60`). Hidden partitioning: users query SOURCE
    * columns; the catalog maps predicates through the transforms to skip
    * partitions. The spec applies to data written by subsequent
    * [[compactTable]] calls (which fan out on the transform columns and
    * record each file's partition tuple); existing files simply have no
    * tuple and are never pruned by partition.
    */
  def setPartitionSpec(table: String,
      fields: Seq[GraftCatalog.PartitionFieldDef]): Unit = withTableLock(table) {
    require(fields.nonEmpty, "empty partition spec; use clearPartitionSpec")
    writePspecFile(table, fields)
  }

  /** The spec write itself, caller already holding the table lock —
    * [[importTable]] writes it mid-registration, before the head exists.
    */
  private def writePspecFile(table: String,
      fields: Seq[GraftCatalog.PartitionFieldDef]): Unit = {
    require(fields.map(_.name).distinct.length == fields.length,
      s"duplicate partition field names in ${fields.map(_.name).mkString(",")}")
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    val tmp = tableDir(table).resolve(s".pspec.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp,
      fields.map(f => s"${enc(f.name)}\t${enc(f.transform)}\t${enc(f.source)}")
        .mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, pspecPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop the table's partition spec entirely (evolving to unpartitioned
    * — the DROP of the last partition field). Existing files keep their
    * recorded tuples and stay prunable; subsequent writes land
    * unpartitioned.
    */
  def clearPartitionSpec(table: String): Unit = withTableLock(table) {
    Files.deleteIfExists(pspecPath(table))
  }

  def partitionSpec(table: String): Seq[GraftCatalog.PartitionFieldDef] = {
    val p = pspecPath(table)
    if (!Files.exists(p)) Nil
    else {
      def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
      Files.readString(p).split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(n, t, s) = line.split("\t", 3)
        GraftCatalog.PartitionFieldDef(dec(n), dec(t), dec(s))
      }
    }
  }

  def currentSnapshotId(table: String): Long =
    headStore.fold(Files.readString(headPath(table)).trim.toLong)(_.read(table))

  /** All entries (data + delete files) of the current snapshot. */
  def loadEntries(table: String): Seq[TableEntry] =
    readSnapshot(table, currentSnapshotId(table))

  /** The full entry list of a PAST snapshot (the time-travel twin of
    * [[loadEntries]]); any retained snapshot id is readable until expiry.
    */
  def loadEntriesAt(table: String, snapshotId: Long): Seq[TableEntry] = {
    require(snapshotIds(table).contains(snapshotId),
      s"snapshot $snapshotId of $table does not exist (expired or never " +
        s"committed); retained: ${snapshotIds(table).mkString(", ")}")
    readSnapshot(table, snapshotId)
  }

  /** Load the table = the current snapshot's DATA file-scan tasks. */
  def loadTable(table: String): Seq[DataFileTask] =
    dataTasks(loadEntries(table))

  private def dataTasks(entries: Seq[TableEntry]): Seq[DataFileTask] =
    entries.collect { case e if e.kind == "data" =>
      DataFileTask(e.path, e.seqNum, e.format)
    }

  /** Time travel: the DATA file-scan tasks of a PAST snapshot (Iceberg's
    * `VERSION AS OF` — any retained snapshot id is readable until expiry).
    */
  def loadTableAt(table: String, snapshotId: Long): Seq[DataFileTask] = {
    require(snapshotIds(table).contains(snapshotId),
      s"snapshot $snapshotId of $table does not exist (expired or never committed); " +
        s"retained: ${snapshotIds(table).mkString(", ")}")
    dataTasks(readSnapshot(table, snapshotId))
  }

  /** The reference's EP1 step-2 read: snapshot scan WITH delete-file
    * processing — data tasks merged against the snapshot's position- and
    * equality-delete files (`compaction/mod.rs:121-171`,
    * `with_delete_file_processing_enabled(true)`). This is how a reader
    * sees a table that has pending row-level deletes.
    */
  def scanTable(spark: SparkSession, table: String): DataFrame = {
    // entries and schema from ONE pinned head read: two separate head
    // loads would let a racing schema-evolution commit pair one
    // snapshot's file list with another's schema
    val sid = currentSnapshotId(table)
    scanEntries(spark, table, readSnapshot(table, sid), schemaAt(table, sid))
  }

  /** The MoR read as PER-SCHEMA-GROUP frames — [[scanTable]] decomposed so
    * each frame plans NARROW over its own file tasks (pos/eq deletes
    * applied per group via the same broadcast anti joins; deletes are
    * row-local, so per-group application ≡ applying them above the union).
    * The DSv2 batch serving path consumes these: file-task partitions
    * stream straight from each group's lazy plan, with no inline
    * `UnionRDD` (never foreign-task-safe) and no shuffle-barrier rebuild.
    */
  def scanTableFrames(
      spark: SparkSession,
      table: String,
      asOf: Option[Long],
      dataKeep: TableEntry => Boolean = _ => true): Seq[DataFrame] = {
    asOf.foreach(sid => require(snapshotIds(table).contains(sid),
      s"snapshot $sid of $table does not exist (expired or never " +
        s"committed); retained: ${snapshotIds(table).mkString(", ")}"))
    // ONE pinned snapshot for entries AND schema (a racing
    // schema-evolution commit must never pair one snapshot's file list
    // with another's names — the same discipline the keep-set doc below
    // demands for file lists)
    val sid = asOf.getOrElse(currentSnapshotId(table))
    val all = readSnapshot(table, sid)
    val schema = schemaAt(table, sid)
    // runtime file pruning (`dataKeep`) needs a schema to represent a
    // pruned-to-empty result; a schema-less table scans unpruned
    val entries =
      if (schema.isEmpty) all
      else all.filter(e => e.kind != "data" || dataKeep(e))
    if (dataTasks(entries).isEmpty)
      return Seq(scanEntries(spark, table, entries, schema))
    val pos = entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }
    val eq = entries.collect { case e if e.kind == "eqdel" =>
      EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
    }
    // delete-free snapshots skip the hidden-column fabrication and seq
    // broadcast entirely: each group is a bare (join-free) vectorized scan
    if (pos.isEmpty && eq.isEmpty)
      return CompactionRunner.scanPlainGroups(spark, dataTasks(entries), schema)
    CompactionRunner.scanWithHiddenColsGroups(spark, dataTasks(entries), schema)
      .map(g => graft.operators.MorPlanner.merge(g,
        CompactionRunner.readPositionDeletes(spark, pos),
        CompactionRunner.readEqualityDeletes(spark, eq, Some(g.schema))))
  }

  /** The data-file paths a runtime `column IN (values)` filter cannot
    * rule out — the DPP planning primitive: per value, a file survives if
    * its partition tuple MAY hold it (transform projection, same proofs
    * as [[scanTableWhere]]/[[scanTableWhereEqString]]) AND its recorded
    * [min,max] bounds straddle it; a file survives overall if ANY value
    * survives. Conservative everywhere: missing stats/tuples keep, mixed
    * or unexpected value types keep everything (never risk dropping a
    * row on a type-coercion guess).
    */
  /** Data-file paths a `column ∈ [lo, hi]` predicate cannot rule out —
    * the same hidden-partition + per-file-stats file skipping
    * [[scanTableWhere]] routes through, exposed as a path set so the
    * vectorized mask path can prune its file list under pushed filters
    * without re-deriving the pruning rules. Conservative by construction:
    * entries without stats or an applicable transform always keep.
    */
  private[graft] def rangeKeepPaths(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Double,
      hi: Double,
      entriesOpt: Option[Seq[TableEntry]] = None): Set[String] = {
    val dataEntries = entriesOpt.getOrElse(loadEntries(table))
      .filter(_.kind == "data")
      .filter(partitionPruner(spark, table, column, lo, hi))
    CompactionRunner.pruneByStats(
      dataEntries.map(e => CompactionRunner.DataFileStats(e.path, 0L, 0L,
        e.stats.fold(Map.empty[String, String])(_.colMins),
        e.stats.fold(Map.empty[String, String])(_.colMaxs), Map.empty)),
      column, lo, hi).map(_.path).toSet
  }

  /** Pruning keep sets consult catalog metadata; callers that already
    * hold an entry list (a read pinned to one snapshot) pass it via
    * `entriesOpt` so the keep set and the scanned file list come from the
    * SAME snapshot — re-loading head here would let a commit racing the
    * read's planning exclude files the scan still holds (silent row
    * loss). None = load head (callers with no prior load).
    */
  private[graft] def inKeepPaths(
      spark: SparkSession,
      table: String,
      column: String,
      values: Seq[Any],
      entriesOpt: Option[Seq[TableEntry]] = None): Set[String] = {
    // an EMPTY value list is Spark telling us the build side had no
    // surviving keys: no row can match, no file needs reading
    if (values.isEmpty) return Set.empty
    val all = entriesOpt.getOrElse(loadEntries(table))
    val data = all.filter(_.kind == "data")
    def statsNumKeep(e: TableEntry, v: Double): Boolean = e.stats.forall { s =>
      (s.colMins.get(column).flatMap(_.toDoubleOption),
        s.colMaxs.get(column).flatMap(_.toDoubleOption)) match {
        case (Some(mn), Some(mx)) => mn <= v && v <= mx
        case _ => true
      }
    }
    val longs = values.collect {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
    }
    val strings = values.collect {
      case s: String => s
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    }
    if (longs.length == values.length && values.nonEmpty) {
      // a Long that does not survive the Double round-trip (|v| > 2^53)
      // must not prune: the pruner works in Doubles, and its BUCKET
      // branch HASHES the rounded-back long — a different murmur3 bucket
      // than the true value's, silently dropping the covering file (the
      // monotone min/max compares would be conservative; a hash is not)
      if (longs.exists(v => v.toDouble.toLong != v))
        return data.map(_.path).toSet
      // one pruner per VALUE (each reads the spec once), applied per entry
      val pruners = longs.map(v =>
        (partitionPruner(spark, table, column, v.toDouble, v.toDouble),
          v.toDouble))
      data.filter(e => pruners.exists { case (p, v) =>
        p(e) && statsNumKeep(e, v)
      }).map(_.path).toSet
    }
    else if (strings.length == values.length && values.nonEmpty) {
      strings.flatMap(v =>
        eqStringKeptEntries(spark, table, column, v, all).map(_.path)).toSet
    } else data.map(_.path).toSet
  }

  /** [[scanTable]] as of a retained snapshot — time travel WITH delete-file
    * processing: the MoR state the table showed at `snapshotId`, pending
    * deletes of THAT snapshot applied, resolved against THAT snapshot's
    * schema ([[loadTableAt]] serves raw data tasks for compaction-style
    * consumers; a reader wants the merged view).
    */
  def scanTableAt(
      spark: SparkSession, table: String, snapshotId: Long): DataFrame = {
    require(snapshotIds(table).contains(snapshotId),
      s"snapshot $snapshotId of $table does not exist (expired or never " +
        s"committed); retained: ${snapshotIds(table).mkString(", ")}")
    scanEntries(spark, table,
      readSnapshot(table, snapshotId), schemaAt(table, snapshotId))
  }

  /** MoR scan that ALSO exposes each surviving row's physical identity —
    * `_file` (the data file's canonical path) and `_pos` (its ordinal in
    * that file) — the Iceberg metadata columns row-level engines key
    * deletes on. Same delete-file processing as [[scanTable]]; only the
    * final projection differs (identity kept instead of dropped). This is
    * the read side of the DSv2 DELTA write path: a MERGE/UPDATE scans
    * with identity, and the committed position-deletes reference exactly
    * these (file, pos) pairs.
    */
  def scanTableWithRowId(
      spark: SparkSession,
      table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.operators.MorPlanner
    // ONE pinned snapshot for entries AND schema (same race discipline
    // as scanTable/scanTableFrames)
    val sid = snapshotId.getOrElse(currentSnapshotId(table))
    val entries = readSnapshot(table, sid)
    val schema = schemaAt(table, sid)
    if (dataTasks(entries).isEmpty) {
      val base = schema.getOrElse(throw new IllegalArgumentException(
        s"requirement failed: table $table has no data files; " +
          "an empty table has no schema to scan"))
      val withId = org.apache.spark.sql.types.StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_file",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_pos",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withId)
    }
    val data = CompactionRunner.scanWithHiddenCols(spark, dataTasks(entries),
      schema)
    val pos = entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }
    val eq = entries.collect { case e if e.kind == "eqdel" =>
      EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
    }
    val afterPos = CompactionRunner.readPositionDeletes(spark, pos)
      .fold(data)(pd => MorPlanner.applyPositionDeletes(data, pd))
    val afterEq = CompactionRunner.readEqualityDeletes(spark, eq, Some(data.schema))
      .foldLeft(afterPos)(MorPlanner.applyEqualityDeletes)
    val userCols = afterEq.columns.filterNot(MorPlanner.HiddenCols.contains)
    afterEq.select(userCols.map(col).toIndexedSeq :+
      col(MorPlanner.FilePathCol).as("_file") :+
      col(MorPlanner.PosCol).as("_pos"): _*)
  }

  /** Atomic filter-OVERWRITE (`df.writeTo(t).overwrite(cond)` /
    * `INSERT INTO t REPLACE WHERE cond`): rows matching `predicate` at
    * the base snapshot are suppressed via freshly-computed position
    * deletes, and `dataFiles` (already written by the engine) land as the
    * replacement — ONE commit, so readers never observe the
    * deleted-but-not-yet-replaced intermediate state a delete+append
    * sequence would expose. The pos-delete scan prunes to the predicate
    * columns + row identity; data files are untouched.
    */
  def overwriteWhere(
      spark: SparkSession,
      table: String,
      expectedHead: Long,
      predicate: org.apache.spark.sql.Column,
      dataFiles: Seq[GraftCatalog.AddedFile],
      outDir: String): Long = {
    val entries = readSnapshot(table, expectedHead)
    val posFiles: Seq[GraftCatalog.AddedFile] =
      if (dataTasks(entries).isEmpty) Nil
      else {
        val data = CompactionRunner.scanWithHiddenCols(spark,
          dataTasks(entries), schemaAt(table, expectedHead))
        addedFiles(writePositionDeletes(spark, data.filter(predicate),
          s"$outDir/overwrite-pos-${java.util.UUID.randomUUID()}")._1)
      }
    if (dataFiles.isEmpty && posFiles.isEmpty) currentSnapshotId(table)
    else commitRowDelta(table, expectedHead, dataFiles, posFiles)
  }

  /** The merge-on-read position-delete producer behind [[deleteWhere]],
    * [[updateWhere]], [[deleteWhereRange]] and [[overwriteWhere]]: the
    * `(file_path, pos)` of every row of `matched` (a scan carrying the
    * hidden columns; Catalyst prunes it to the predicate's columns) is
    * written as position-delete parquet under `dir`. The referenced data
    * files are observed ON that write — no read-back job over the delete
    * output. Returns the written files ([[countedParquetsIn]]) and the
    * referenced data-file paths.
    */
  private def writePositionDeletes(
      spark: SparkSession,
      matched: DataFrame,
      dir: String): (Seq[(String, Long, Long)], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, collect_set}
    val obs = org.apache.spark.sql.Observation(
      s"graft-posdel-${java.util.UUID.randomUUID()}")
    matched
      .select(col(graft.operators.MorPlanner.FilePathCol).as("file_path"),
        col(graft.operators.MorPlanner.PosCol).as("pos"))
      .observe(obs, collect_set(col("file_path")).as("files"))
      .write.mode("errorifexists").parquet(dir)
    (countedParquetsIn(spark, dir),
      obs.get("files").asInstanceOf[scala.collection.Seq[String]].toSeq)
  }

  /** The optimistic check of a scan-then-commit write ([[deleteWhere]],
    * [[updateWhere]], [[deleteWhereRange]]): every data file its delete
    * rows reference (or it drops) must still be live at commit time — a
    * concurrent compaction retiring one would silently orphan those
    * deletes, so the commit fails with a typed conflict instead.
    */
  private def requireLive(
      table: String,
      entries: Seq[TableEntry],
      paths: Seq[String],
      op: String,
      after: String): Unit = {
    val live = dataTasks(entries)
      .flatMap(t => Seq(t.path, CompactionRunner.canonPath(t.path))).toSet
    val stale = paths.filterNot(p =>
      live(p) || live(CompactionRunner.canonPath(p)))
    if (stale.nonEmpty)
      throw GraftError.Metadata(
        s"$op commit conflict on $table: files " +
          s"${stale.take(3).mkString(", ")} were rewritten by a concurrent " +
          s"commit after $after; re-run against the new snapshot")
  }

  /** Pos-delete snapshot entries for written files, with the footer
    * counts stamped — the record_count / file_size_in_bytes Iceberg
    * stamps at commit; the vectorized mask path and the broadcast-hint
    * sizing both read them back.
    */
  private def posDeleteEntries(
      written: Seq[(String, Long, Long)], seq: Long): Seq[TableEntry] =
    written.map { case (p, rows, bytes) =>
      TableEntry("posdel", p, seq, "parquet", Nil,
        recordCount = rows, sizeBytes = bytes)
    }

  /** Eq-delete snapshot entries, counted like [[posDeleteEntries]] (the
    * bound the vectorized eq-delete mask checks before broadcasting the key
    * set). The key columns' field ids are recorded alongside their names,
    * resolved against the current schema under the table lock: the ids
    * keep a pending delete applicable across a later column rename
    * (readEqualityDeletes resolves by id when ids are present).
    */
  private def eqDeleteEntries(
      table: String,
      written: Seq[(String, Long, Long)],
      seq: Long,
      keyCols: Seq[String]): Seq[TableEntry] = {
    val keyIds = currentSchema(table).fold(Seq.empty[Int])(sch =>
      keyCols.flatMap(n => sch.fields.find(_.name == n).flatMap(FieldIds.idOf)))
    val recordedIds = if (keyIds.length == keyCols.length) keyIds else Nil
    written.map { case (p, rows, bytes) =>
      TableEntry("eqdel", p, seq, "parquet", keyCols, recordedIds,
        recordCount = rows, sizeBytes = bytes)
    }
  }

  /** One-commit ROW DELTA: new data files + position-delete files land
    * together at the next sequence, base-asserted under the table lock —
    * the commit shape of a DSv2 `WriteDelta` (merge-on-read UPDATE/MERGE:
    * deletes suppress the old row versions, the data files carry the new
    * ones). The pos-deletes reference files scanned at `expectedHead`, so
    * the base assertion is also what keeps them pointing at live entries.
    */
  def commitRowDelta(
      table: String,
      expectedHead: Long,
      dataFiles: Seq[GraftCatalog.AddedFile],
      posDeleteFiles: Seq[GraftCatalog.AddedFile]): Long =
    commit(table, Some(expectedHead)) { (entries, seq) =>
      require(dataFiles.nonEmpty || posDeleteFiles.nonEmpty,
        "row-delta commit carries no files")
      entries ++ addedDataEntries(table, dataFiles, seq) ++
        posDeleteFiles.map(f => TableEntry("posdel",
          CompactionRunner.canonPath(f.path), seq, f.format, Nil,
          recordCount = f.recordCount, sizeBytes = f.sizeBytes))
    }

  private def scanEntries(
      spark: SparkSession,
      table: String,
      entries: Seq[TableEntry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    // an EMPTY table with a recorded canonical schema reads as zero rows
    // AT that schema — the state every freshly-created catalog/REST table
    // is in before its first commit, and a reader (relation, TVF, SQL
    // view) must be able to bind to it. Only a schema-LESS empty table
    // cannot produce a DataFrame (snapshots store file lists, not
    // schemas) — that still fails with the catalog-level message.
    if (dataTasks(entries).isEmpty) {
      schema match {
        case Some(s) =>
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None =>
          throw new IllegalArgumentException(
            s"requirement failed: table $table has no data files; " +
              "an empty table has no schema to scan")
      }
    }
    val pos = entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }
    val eq = entries.collect { case e if e.kind == "eqdel" =>
      EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
    }
    // delete-free snapshots read without hidden cols or the seq broadcast
    if (pos.isEmpty && eq.isEmpty)
      return CompactionRunner.scanPlainGroups(spark, dataTasks(entries), schema)
        .reduce(_.unionByName(_))
    // with a recorded canonical schema, data files resolve BY FIELD ID —
    // renames/adds/drops between file generations are handled at the scan
    val data = CompactionRunner.scanWithHiddenCols(spark, dataTasks(entries),
      schema)
    graft.operators.MorPlanner.merge(data,
      CompactionRunner.readPositionDeletes(spark, pos),
      CompactionRunner.readEqualityDeletes(spark, eq, Some(data.schema)))
  }

  /** Stats-pruned MoR read — Iceberg's manifest-level file skipping, off
    * the bounds the compaction commit persisted into the snapshot
    * ([[EntryStats]], populated from `CompactionConfig.statsCols`): only
    * data files whose `[min,max]` range for `column` intersects `[lo,hi]`
    * are scanned at all. With range- or z-order-clustered outputs the file
    * bounds are near-disjoint, so a narrow predicate touches a handful of
    * files — at 100 TB this is the difference between a metadata lookup
    * and a full scan. Pruning is conservative exactly like
    * [[CompactionRunner.pruneByStats]]: files without stats (or with
    * null/sentinel/unparseable bounds) are always scanned. Pending
    * pos/eq-deletes still apply to the kept files, and the exact predicate
    * is re-applied on top, so the result equals
    * `scanTable(...).filter(lo <= column && column <= hi)` row-for-row.
    */
  def scanTableWhere(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Double,
      hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val entries = loadEntries(table)
    val dataEntries = entries.filter(_.kind == "data")
      // partition pruning FIRST (hidden partitioning): a file whose
      // partition tuple provably excludes [lo,hi] under the table's
      // transform spec never reaches the stats check
      .filter(partitionPruner(spark, table, column, lo, hi))
    val keptPaths = CompactionRunner.pruneByStats(
      dataEntries.map(e => CompactionRunner.DataFileStats(e.path, 0L, 0L,
        e.stats.fold(Map.empty[String, String])(_.colMins),
        e.stats.fold(Map.empty[String, String])(_.colMaxs), Map.empty)),
      column, lo, hi).map(_.path).toSet
    val exact = col(column) >= lo && col(column) <= hi
    if (keptPaths.isEmpty)
      // provably-empty result; limit(0) keeps the schema without any scan
      scanTable(spark, table).filter(exact).limit(0)
    else {
      val kept = dataEntries.filter(e => keptPaths(e.path))
        .map(e => DataFileTask(e.path, e.seqNum, e.format))
      // delete-free: no hidden cols, no seq broadcast — a bare pruned scan
      if (!entries.exists(e => e.kind == "posdel" || e.kind == "eqdel"))
        return CompactionRunner.scanPlainGroups(spark, kept,
          currentSchema(table)).reduce(_.unionByName(_)).filter(exact)
      val data = CompactionRunner.scanWithHiddenCols(spark, kept,
        currentSchema(table))
      graft.operators.MorPlanner.merge(data,
        CompactionRunner.readPositionDeletes(spark,
          entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }),
        CompactionRunner.readEqualityDeletes(spark,
          entries.collect { case e if e.kind == "eqdel" =>
            EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
          }, Some(data.schema))).filter(exact)
    }
  }

  /** Hidden-partition pruning predicate for `column ∈ [lo, hi]`: true when
    * the entry's partition tuple MAY contain matching rows under the
    * table's spec. Iceberg's predicate *projection* through transforms —
    * each transform knows how a source-range predicate maps onto its
    * partition values:
    *
    *  - `identity`: partition value itself must intersect `[lo, hi]`.
    *  - `truncate[w]` (numeric): value `p` covers source range `[p, p+w)`,
    *    so keep iff `p <= hi && p + w > lo`.
    *  - `bucket[n]`: hashing destroys order — only an EQUALITY predicate
    *    (`lo == hi`, integral, int/long source) prunes, to the single
    *    bucket `murmur3(v) % n`. This is the query shape bucketing exists
    *    for: a point lookup touches 1/n of the table's files.
    *  - temporal transforms (`year`/`month`/`day`/`hour`) and everything
    *    else: recorded but not pruned through this numeric-range API
    *    (their source domains are dates; the per-file column stats prune
    *    those scans instead).
    *
    * The transform used per file is the one RECORDED in its entry
    * (`TableEntry.partitionTransforms` — the spec that wrote the file),
    * never the current spec's: after a spec evolution the current
    * transform would misinterpret old tuples and prune wrong files.
    *
    * Conservative throughout: no spec, no tuple, no recorded transform,
    * null value, unparseable value, or a string-typed source → keep the
    * file. A kept file's rows still pass through the exact predicate, so
    * pruning can only skip IO, never change results.
    */
  /** The source column's type — drives whether transform math applies
    * (truncate prefix-vs-floor, bucket hash function). Schema-less tables
    * read it from one data-file footer: a driver-side metadata read.
    */
  private def sourceColumnType(
      spark: SparkSession, table: String, column: String)
      : Option[org.apache.spark.sql.types.DataType] =
    currentSchema(table)
      .orElse(loadTable(table).headOption.map(t =>
        if (t.format == "parquet")
          CompactionRunner.inferredParquet(spark, Seq(t.path)).schema
        else spark.read.format(t.format).load(t.path).schema))
      .flatMap(_.fields.find(_.name == column)).map(_.dataType)

  private def isIntType(t: Option[org.apache.spark.sql.types.DataType]): Boolean =
    t.exists {
      case org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Decode an entry's recorded `transform|source` binding; entries from
    * before source recording fall back to the given spec field's source.
    */
  private def recordedBinding(
      recorded: String, fallbackSource: String): (String, String) =
    recorded.split("\\|", 2) match {
      case Array(t, src) => (t, src)
      case Array(t) => (t, fallbackSource)
    }

  private def partitionPruner(
      spark: SparkSession,
      table: String, column: String, lo: Double, hi: Double)
      : TableEntry => Boolean = {
    val fields = partitionSpec(table).filter(_.source == column)
    if (fields.isEmpty) (_: TableEntry) => true
    else {
      val intSource = isIntType(sourceColumnType(spark, table, column))
      val Param = """([a-z]+)\[(\d+)\]""".r
      e: TableEntry => fields.forall { f =>
        (e.partitionVals.get(f.name), e.partitionTransforms.get(f.name)) match {
          case (Some(v), Some(recorded)) if v == null =>
            // every transform but `void` is null-intolerant: the null
            // partition holds ONLY null-source rows, which no range
            // predicate admits — prune it (void maps everything to null,
            // so it proves nothing)
            val (transform, recSource) = recordedBinding(recorded, f.source)
            recSource != column || transform == "void"
          case (Some(v), Some(recorded)) =>
            // both halves of the recorded binding must still mean this
            // column, or the tuple describes some other column's data
            val (transform, recSource) = recordedBinding(recorded, f.source)
            if (recSource != column) true
            else {
              val pv = scala.util.Try(v.toDouble).toOption
              (transform, pv) match {
                case ("identity", Some(p)) => p >= lo && p <= hi
                case (Param("truncate", w), Some(p)) if intSource =>
                  // source values within w of Long.MinValue WRAP in the
                  // truncate projection (on the write side and in every
                  // lookup — the Iceberg truncate edge): a tuple near
                  // +Long.MaxValue may be such a wrap, and a query
                  // touching the wrap-source region can match rows filed
                  // under a wrapped tuple — both prove nothing, keep
                  val wInt = w.toInt
                  val nearWrap = p >= Long.MaxValue.toDouble - wInt ||
                    lo <= Long.MinValue.toDouble + wInt
                  nearWrap || (p <= hi && p + wInt > lo)
                case (Param("bucket", n), Some(p))
                    if intSource && lo == hi && lo.isWhole =>
                  p == graft.functions.IcebergMurmur3.bucketLong(lo.toLong, n.toInt)
                case _ => true
              }
            }
          case _ => true
        }
      }
    }
  }

  /** String point-lookup with partition + stats pruning —
    * `scanTable(...).filter(col === value)` semantics at metadata cost.
    * The shape string bucketing exists for: a corpus partitioned
    * `bucket[n](source)` answers "all documents from THIS source" from
    * 1/n of its files. Pruning proofs per recorded transform binding
    * (spec-evolution-safe like [[scanTableWhere]]):
    *
    *  - `identity`: partition value must equal `value`;
    *  - `bucket[n]` (string source): must equal Iceberg's
    *    `murmur3(utf8 bytes) % n` of `value`;
    *  - `truncate[w]` (string source): must equal `value`'s `w`-char
    *    prefix (Iceberg string truncate);
    *  - plus file stats: `[min, max]` bounds must straddle `value`
    *    lexicographically (string bounds compare exactly like the
    *    parquet writer ordered them).
    *
    * Conservative on every unknown; the exact filter re-applies on top.
    */
  def scanTableWhereEqString(
      spark: SparkSession,
      table: String,
      column: String,
      value: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(value != null, "use an IS NULL filter for null lookups")
    val entries = loadEntries(table)
    val kept = eqStringKeptEntries(spark, table, column, value, entries)
    val exact = col(column) === lit(value)
    if (kept.isEmpty) scanTable(spark, table).filter(exact).limit(0)
    else if (!entries.exists(e => e.kind == "posdel" || e.kind == "eqdel"))
      // delete-free: no hidden cols, no seq broadcast — a bare pruned scan
      CompactionRunner.scanPlainGroups(spark,
        kept.map(e => DataFileTask(e.path, e.seqNum, e.format)),
        currentSchema(table)).reduce(_.unionByName(_)).filter(exact)
    else {
      val data = CompactionRunner.scanWithHiddenCols(spark,
        kept.map(e => DataFileTask(e.path, e.seqNum, e.format)),
        currentSchema(table))
      graft.operators.MorPlanner.merge(data,
        CompactionRunner.readPositionDeletes(spark,
          entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }),
        CompactionRunner.readEqualityDeletes(spark,
          entries.collect { case e if e.kind == "eqdel" =>
            EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
          }, Some(data.schema))).filter(exact)
    }
  }

  /** The planning half of [[scanTableWhereEqString]]: the data entries a
    * point lookup must still read after partition-tuple, min/max-stats, and
    * bloom-filter pruning. Exposed package-private so specs can assert the
    * file-skipping claim on the PLAN (entry list), not just the result.
    */
  private[graft] def eqStringKeptEntries(
      spark: SparkSession,
      table: String,
      column: String,
      value: String,
      preloaded: Seq[TableEntry] = null): Seq[TableEntry] = {
    val entries = Option(preloaded).getOrElse(loadEntries(table))
    val isString = sourceColumnType(spark, table, column)
      .contains(org.apache.spark.sql.types.StringType)
    val fields = partitionSpec(table).filter(_.source == column)
    val Param = """([a-z]+)\[(\d+)\]""".r
    def partitionKeeps(e: TableEntry): Boolean = fields.forall { f =>
      (e.partitionVals.get(f.name), e.partitionTransforms.get(f.name)) match {
        case (Some(v), Some(recorded)) if v == null =>
          // null-intolerant transforms (all but void) put only null-source
          // rows in the null partition — a non-null lookup never matches
          val (transform, recSource) = recordedBinding(recorded, f.source)
          recSource != column || transform == "void"
        case (Some(v), Some(recorded)) =>
          val (transform, recSource) = recordedBinding(recorded, f.source)
          if (recSource != column) true
          else transform match {
            case "identity" if isString => v == value
            case Param("bucket", n) if isString =>
              v == graft.functions.IcebergMurmur3.bucketUTF8(
                org.apache.spark.unsafe.types.UTF8String.fromString(value),
                n.toInt).toString
            case Param("truncate", w) if isString =>
              v == value.take(w.toInt)
            case _ => true
          }
        case _ => true
      }
    }
    def statsKeep(e: TableEntry): Boolean = e.stats.forall { s =>
      (s.colMins.get(column), s.colMaxs.get(column)) match {
        case (Some(mn), Some(mx))
            if mn != "null" && mx != "null" &&
              mn != "below_min" && mx != "above_max" =>
          mn <= value && value <= mx
        case _ => true
      }
    }
    // Per-file bloom filters (recorded by [[recordBloomFilter]]) prune
    // definitively where bounds can't: on an UNCLUSTERED column every
    // file's [min,max] straddles every probe, but a 0-bit in the filter
    // proves absence. A file without a sidecar entry is kept (advisory
    // metadata, never required for correctness).
    val blooms = readBlooms(table, column)
    val parsed = scala.collection.mutable.HashMap.empty[
      String, org.apache.spark.util.sketch.BloomFilter]
    // sidecar keys are the scan's CANONICAL path rendering (the hidden
    // file-path column); entries registered by raw local path canonicalize
    // to the same key
    def bloomKeep(e: TableEntry): Boolean = {
      val key = CompactionRunner.canonPath(e.path)
      blooms.get(key).forall { bytes =>
        parsed.getOrElseUpdate(key, org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes)))
          .mightContainString(value)
      }
    }
    entries.filter(_.kind == "data")
      .filter(e => partitionKeeps(e) && statsKeep(e) && bloomKeep(e))
  }

  // ---- per-file bloom filters (point-lookup file skipping) ---------------

  private def bloomSidecarPath(table: String, column: String) =
    tableDir(table).resolve(
      s"bloom-${java.net.URLEncoder.encode(column, "UTF-8")}.tsv")

  /** The persisted bloom sidecar for `column`: canonical data-file path →
    * serialized `org.apache.spark.util.sketch.BloomFilter` bytes. Empty map
    * when none recorded.
    */
  private[graft] def readBlooms(
      table: String, column: String): Map[String, Array[Byte]] = {
    val p = bloomSidecarPath(table, column)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).split("\n").filter(_.nonEmpty).map { line =>
      val Array(path, b64) = line.split("\t", 2)
      java.net.URLDecoder.decode(path, "UTF-8") ->
        java.util.Base64.getDecoder.decode(b64)
    }.toMap
  }

  /** Record a per-file bloom filter over a STRING column into a catalog
    * sidecar, so [[scanTableWhereEqString]] can skip whole files from
    * metadata alone on columns where min/max bounds prune nothing (content
    * hashes, URLs, ids scattered by arrival order). Iceberg's analog keeps
    * blooms inside parquet column metadata — readable only by opening every
    * footer; lifting a compact filter into catalog metadata makes the skip
    * a PLANNER decision: a point probe on a 100 TB unclustered corpus goes
    * from touching every file to one driver-side sidecar read plus the few
    * files whose filters fire (true hit + fpp stragglers).
    *
    * One distributed pass builds partial filters per (task × file) with no
    * shuffle (`mapPartitions` over the hidden-file-path scan); the driver
    * merges per path — the collected cardinality is O(tasks + files), the
    * same driver-sized metadata every commit already handles. Bytes per
    * file ≈ `-n·ln(fpp)/ln²2 / 8` — the 1.2 KB default (`expectedItems` 1k,
    * fpp 3%) covers a 1k-distinct-value file; size to the real per-file
    * cardinality at scale.
    *
    * The sidecar is ADVISORY and keyed by immutable file path: files
    * appended after recording have no entry and are always kept; re-running
    * merges over prior entries (new files covered, unchanged paths
    * overwritten equivalently). Returns the number of files covered.
    */
  def recordBloomFilter(
      spark: SparkSession,
      table: String,
      column: String,
      expectedItemsPerFile: Long = 1000L,
      fpp: Double = 0.03): Int = {
    import org.apache.spark.sql.functions.col
    require(sourceColumnType(spark, table, column)
        .contains(org.apache.spark.sql.types.StringType),
      s"bloom filters record STRING columns; $column is not a string")
    val dataEntries = loadEntries(table).filter(_.kind == "data")
    if (dataEntries.isEmpty) return 0
    val data = CompactionRunner.scanWithHiddenCols(spark,
      dataEntries.map(e => DataFileTask(e.path, e.seqNum, e.format)),
      currentSchema(table))
    import spark.implicits._
    val partials = data
      .select(col(graft.operators.MorPlanner.FilePathCol), col(column))
      .as[(String, String)]
      .mapPartitions { it =>
        val perFile = scala.collection.mutable.HashMap
          .empty[String, org.apache.spark.util.sketch.BloomFilter]
        it.foreach { case (path, v) =>
          if (v != null)
            perFile.getOrElseUpdate(path,
              org.apache.spark.util.sketch.BloomFilter
                .create(expectedItemsPerFile, fpp)).putString(v)
        }
        perFile.iterator.map { case (p, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (p, bos.toByteArray)
        }
      }
      .collect() // one row per (task, file-slice): driver-sized metadata
    val merged: Map[String, Array[Byte]] =
      partials.groupBy(_._1).map { case (path, slices) =>
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(slices.head._2))
        slices.tail.foreach { case (_, bytes) =>
          bf.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes)))
        }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        path -> bos.toByteArray
      }
    withTableLock(table) {
      val all = readBlooms(table, column) ++ merged
      val enc = java.util.Base64.getEncoder
      val tmp = tableDir(table).resolve(
        s".bloom.tmp-${Thread.currentThread().getId}")
      Files.writeString(tmp,
        all.toSeq.sortBy(_._1).map { case (p, bytes) =>
          s"${java.net.URLEncoder.encode(p, "UTF-8")}\t${enc.encodeToString(bytes)}"
        }.mkString("\n"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, bloomSidecarPath(table, column),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    merged.size
  }

  /** Iceberg-v2 row-level upsert: write `updates` as a new data file set AND
    * an equality-delete file over `keyCols` at the same (advanced) sequence
    * number, commit both in one snapshot. Readers ([[scanTable]]) see old
    * rows with matching keys suppressed by the seq guard
    * (`data.seq < delete.seq`) and the new rows live; a later
    * [[compactTable]] makes it physical. One distributed write per side, no
    * driver data movement.
    */
  def upsert(
      spark: SparkSession,
      table: String,
      updates: DataFrame,
      keyCols: Seq[String],
      outDir: String): Long = {
    require(keyCols.nonEmpty, "upsert requires key columns")
    // The distributed writes run OUTSIDE the table lock (directories named
    // by a commit token, not a sequence number); the sequence number is
    // allocated UNDER the lock at commit time. Allocating it early would
    // let two concurrent upserts share a seq — and since the eq-delete
    // guard is strict (`data.seq < delete.seq`), neither would suppress the
    // other's rows: duplicate live rows per key. Lock-ordered seqs make
    // the later commit's deletes apply to the earlier commit's data.
    val token = java.util.UUID.randomUUID().toString
    val dataDir = s"$outDir/upsert-data-$token"
    val delDir = s"$outDir/upsert-eqdel-$token"
    val rows = aligned(updates, currentSchema(table))
    rows.write.mode("errorifexists").parquet(dataDir)
    rows.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().write.mode("errorifexists").parquet(delDir)
    val dataFiles = listParquetsIn(spark, dataDir)
    val deletes = countedParquetsIn(spark, delDir)
    commit(table) { (entries, seq) =>
      entries ++ dataFiles.map(p => TableEntry("data", p, seq, "parquet", Nil)) ++
        eqDeleteEntries(table, deletes, seq, keyCols)
    }
  }

  /** `df` with the table's current field ids (when a schema is recorded),
    * so the files a writer produces resolve by id under later evolved
    * scans like any other file generation. A SET or inserted column's
    * `.as(c)` strips the canonical metadata, so the row-level writers
    * re-align before writing too.
    */
  private def aligned(df: DataFrame, schema: Option[StructType]): DataFrame =
    schema.fold(df)(FieldIds.alignToSchema(df, _))

  /** `(path, rowCount, sizeBytes)` per non-empty parquet file under `dir`
    * — THE listing of a just-written directory. Counts come from the
    * parquet FOOTERS, driver-side (one footer per file, the same
    * cardinality as the manifest entries built from it, read on a bounded
    * pool), so the per-commit manifest counting costs no distributed job
    * and never re-reads the just-written generation. Any unreadable footer
    * falls back to one distributed count pass. Zero-row part files carry
    * no manifest entry: an all-miss delete write, or an empty batch,
    * registers nothing.
    */
  private def countedParquetsIn(
      spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val files = listParquetsIn(spark, dir)
    if (files.isEmpty) return Nil
    val hconf = spark.sessionState.newHadoopConf()
    val footer = files.zip(CompactionRunner.parquetFooterCountsBulk(files, hconf))
    val counted =
      if (footer.forall(_._2._1 >= 0))
        footer.map { case (p, (r, b)) => (p, r, b) }
      else {
        import org.apache.spark.sql.functions.{col, count, lit}
        spark.read.parquet(files: _*)
          .groupBy(col("_metadata.file_path").as("path"),
            col("_metadata.file_size").as("size"))
          .agg(count(lit(1)).as("rc"))
          .collect().toSeq.map(r => (r.getAs[String]("path"),
            r.getAs[Long]("rc"), r.getAs[Long]("size")))
      }
    counted.filter(_._2 > 0L)
  }

  /** Footer-counted written files as commit inputs for the `AddedFile`
    * commit paths. */
  private def addedFiles(written: Seq[(String, Long, Long)]): Seq[GraftCatalog.AddedFile] =
    written.map { case (p, rows, bytes) =>
      GraftCatalog.AddedFile(p, "parquet", rows, bytes) }

  /** Pure append commit: write `df` as a fresh parquet generation and add
    * the files to the snapshot — Iceberg's `AppendFiles` fast path (no
    * deletes, no rewrite; the reference's incremental scan consumes exactly
    * these commits, `GraftCatalog.appendedFilesBetween`). The written files
    * commit through [[commitAppend]], footer-counted
    * ([[countedParquetsIn]]): appended generations stay
    * metadata-countable like compacted ones, with no read-back pass over
    * the generation just written.
    *
    * Zero-row appends commit nothing (the empty-write discipline of the
    * DML writers) and return the unchanged head.
    */
  def appendFiles(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      outDir: String): Long = {
    val dir = s"$outDir/append-${java.util.UUID.randomUUID()}"
    aligned(df, currentSchema(table)).write.mode("errorifexists").parquet(dir)
    val written = countedParquetsIn(spark, dir)
    if (written.isEmpty) currentSnapshotId(table)
    else commitAppend(table, addedFiles(written))
  }

  /** OVERWRITE the table's contents with `df` in ONE commit — the
    * INSERT OVERWRITE shape: the new generation replaces every data AND
    * delete entry atomically at the head advance, so a reader sees the
    * old contents or the new, never both and never an empty window (the
    * two-commit truncate+append alternative exposes both). Old files stay
    * on disk for [[removeOrphanFiles]]. An empty frame truncates. Same
    * write and footer counting as [[appendFiles]]; the commit is
    * [[commitReplaceAt]]'s, without a base.
    */
  def overwriteTable(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      outDir: String): Long = {
    val dir = s"$outDir/overwrite-${java.util.UUID.randomUUID()}"
    aligned(df, currentSchema(table)).write.mode("errorifexists").parquet(dir)
    commitReplace(table, None, addedFiles(countedParquetsIn(spark, dir)))
  }

  // ---- streaming ingestion (exactly-once appends per micro-batch) --------

  private def streamMarksPath(table: String) =
    tableDir(table).resolve("stream-marks.tsv")

  /** queryId → (last committed batch id, its snapshot id). */
  private def readStreamMarks(table: String): Map[String, (Long, Long)] = {
    val p = streamMarksPath(table)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).split("\n").filter(_.nonEmpty).map { line =>
      val Array(q, b, s) = line.split("\t", 3)
      java.net.URLDecoder.decode(q, "UTF-8") -> (b.toLong, s.toLong)
    }.toMap
  }

  private def writeStreamMarks(
      table: String, marks: Map[String, (Long, Long)]): Unit = {
    val body = marks.toSeq.sortBy(_._1).map { case (q, (b, s)) =>
      s"${java.net.URLEncoder.encode(q, "UTF-8")}\t$b\t$s"
    }.mkString("\n")
    val tmp = tableDir(table).resolve(
      s".stream-marks.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, streamMarksPath(table),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Roll a torn streaming commit forward; callers must hold the table
    * lock. The commit protocol writes (1) the snapshot document — which
    * RESERVES its id first-writer-wins, (2) the stream mark, (3) the HEAD
    * advance. A crash between (2) and (3) leaves a mark pointing one past
    * HEAD at an installed document: finishing the advance here makes the
    * commit durable exactly once — the reserved id means no other commit
    * can have taken it, so the roll-forward can never clobber anyone.
    */
  private def completeTornStreamCommit(table: String): Unit = {
    val head = currentSnapshotId(table)
    readStreamMarks(table).values.collect {
      case (_, snapId) if snapId == head + 1 && Files.exists(snapPath(table, snapId)) =>
        schemaAt(table, head).foreach(writeSchema(table, snapId, _))
        advanceHead(table, head, snapId)
    }
  }

  /** One micro-batch of streaming ingestion, exactly-once. Returns the
    * committed snapshot id, or None when this (queryId, batchId) was
    * already committed — the replay Structured Streaming delivers after a
    * restart (`foreachBatch` is at-least-once; the recorded mark is what
    * upgrades it to exactly-once, the same batch-id dedup contract as
    * Spark's own transactional sinks).
    *
    * The distributed write runs outside the table lock (same discipline as
    * [[upsert]]) and the files commit through [[commitStreamFiles]]; the
    * mark is written between the snapshot document and the HEAD advance
    * (the commit routine's hook), so every crash window either never published the batch
    * (replay re-commits it) or is completed by [[completeTornStreamCommit]]
    * on the next batch (replay then skips). Batch ids per queryId are
    * monotone (Structured Streaming's contract), so `<=` is the replay test.
    */
  def appendStreamBatch(
      spark: SparkSession,
      table: String,
      df: DataFrame,
      outDir: String,
      queryId: String,
      batchId: Long): Option[Long] = {
    // fast replay path: fully committed (mark visible at or below HEAD) —
    // skip without writing files
    readStreamMarks(table).get(queryId) match {
      case Some((b, snapId)) if b >= batchId && snapId <= currentSnapshotId(table) =>
        return None
      case _ => ()
    }
    val dir = s"$outDir/stream-${java.util.UUID.randomUUID()}"
    aligned(df, currentSchema(table)).write.mode("errorifexists").parquet(dir)
    commitStreamFiles(table, queryId, batchId,
      addedFiles(countedParquetsIn(spark, dir)))
  }

  /** [[appendStreamBatch]] for files ALREADY WRITTEN by the engine's own
    * streaming writers (the DSv2 `writeStream.toTable` path — executors
    * stream rows straight into parquet, the driver commits): one
    * exactly-once commit per epoch under the same per-query batch marks,
    * replays skip, empty epochs publish nothing.
    */
  def commitStreamFiles(
      table: String,
      queryId: String,
      batchId: Long,
      files: Seq[GraftCatalog.AddedFile]): Option[Long] = withTableLock(table) {
    val marks = readStreamMarks(table)
    if (marks.get(queryId).exists(_._1 >= batchId)) None // replayed epoch
    else if (files.isEmpty) None // empty batch: nothing to publish
    else Some(commitLocked(table,
      beforeHead = id => writeStreamMarks(table, marks + (queryId -> (batchId, id)))) {
      (entries, seq) => entries ++ addedDataEntries(table, files, seq)
    })
  }

  /** Start a streaming ingestion query draining `stream` into the table —
    * the production shape: a document/event stream lands as committed
    * catalog snapshots, one per micro-batch, restart-safe via the
    * checkpoint + [[appendStreamBatch]]'s batch-id dedup, and the growing
    * small-file debt is exactly what [[maybeCompactTable]] /
    * [[CompactionScheduler]] then sweep. `foreachBatch` hands a session
    * CLONE; the catalog re-resolves all state from disk per batch, so the
    * clone serves fresh listings (the [[graft.pipeline.StreamingDedup]]
    * lesson).
    */
  def streamAppend(
      stream: DataFrame,
      table: String,
      outDir: String,
      checkpointDir: String,
      queryId: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        appendStreamBatch(batch.sparkSession, table, batch.toDF(), outDir,
          queryId, id)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Scheme-aware parquet listing of a written output directory
    * (java.io.File would return null for any non-local outDir).
    */
  private def listParquetsIn(spark: SparkSession, d: String): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(d)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(hp).toSeq.map { st =>
      val u = st.getPath.toUri
      if (u.getScheme == "file") u.getPath else st.getPath.toString
    }.filter(_.endsWith(".parquet")).sorted
  }

  /** Row-level DELETE — the WRITE side of merge-on-read (Iceberg v2
    * `DELETE FROM`). The reference consumes position-delete files the
    * embedding engine produced (`compaction/mod.rs:138-148`); this is the
    * producer that closes that loop, in the two spec-defined flavors:
    *
    *  - '''MoR''' (`copyOnWrite = false`): one column-pruned distributed
    *    scan finds matching rows' `(file_path, pos)` and writes them as
    *    position-delete parquet (the spec's file layout, the exact shape
    *    [[CompactionRunner.readPositionDeletes]] consumes). No data file is
    *    rewritten — at 100 TB the cost is the scan plus a delete file
    *    proportional to the matched rows. Readers ([[scanTable]]) suppress
    *    the rows immediately; a later [[compactTable]] makes it physical
    *    and retires the delete files.
    *  - '''Copy-on-write''' (`copyOnWrite = true`): rewrite ONLY the data
    *    files that contain matching rows (discovered from the same scan —
    *    a driver-sized file list, never row data), applying any PENDING
    *    pos/eq-deletes to those files in the same pass (the rewritten
    *    outputs get a fresh sequence number, which escapes the strict
    *    `data.seq < delete.seq` guard — so pending deletes must be folded
    *    in, exactly like [[compactTableIncremental]]). Untouched files keep
    *    their pending deletes. No reader-side merge cost afterwards.
    *
    * Delete semantics are SQL's: a row is deleted when the predicate is
    * TRUE; NULL keeps the row (both modes pin this — MoR by `filter(pred)`
    * on the matched side, CoW by keeping `NOT coalesce(pred, false)`).
    *
    * Concurrency: the MoR scan+write runs OUTSIDE the table lock (like
    * [[upsert]]); at commit time, under the lock, every file the delete
    * rows reference must still be in the snapshot — a concurrent compaction
    * retiring a referenced file would silently orphan those deletes, so the
    * commit fails with a typed conflict instead (caller re-runs against the
    * new snapshot). CoW rewrites run fully under the lock like
    * [[compactTable]], for the same seq-ordering reasons.
    *
    * Returns the committed snapshot id, or the current head when no row
    * matched (no empty commit).
    */
  def deleteWhere(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      outDir: String,
      copyOnWrite: Boolean = false): Long =
    if (copyOnWrite) deleteWhereCow(spark, table, predicate, outDir)
    else deleteWhereMor(spark, table, predicate, outDir)

  /** Key-predicate point DELETE as a METADATA-SIZED equality-delete commit
    * — `DELETE FROM t WHERE key IN (…)` at 100 TB should not scan a single
    * data file. `keys` holds the key tuples to kill (its column set IS the
    * equality-column set); they are written as one equality-delete parquet
    * (the file class the reference consumes and retires,
    * `core/src/compaction/mod.rs:149-158`) and committed with the next
    * sequence number, so the strict `data.seq < delete.seq` guard
    * suppresses every live row with a matching key. The MoR read path
    * ([[scanTable]]) applies it immediately; [[compactTable]] later makes
    * it physical.
    *
    * Contrast with [[deleteWhere]] (arbitrary predicate): that one must
    * SCAN to learn positions; this one touches zero data files — the
    * commit's cost is the key tuples themselves. NULL semantics match SQL
    * row-equality: an eq-delete key only matches non-null-equal rows, so
    * null keys never kill anything (and are dropped from the delete file).
    *
    * Returns the committed snapshot id, or the current head when `keys`
    * is empty (no empty commit).
    */
  def deleteWhereEq(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      outDir: String): Long = {
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteWhereEq requires at least one key column")
    val delDir = s"$outDir/eqdel-${java.util.UUID.randomUUID()}"
    // a null in ANY key column can never equality-match a row (SQL =), so
    // such tuples are dead weight in the delete file — drop them up front
    aligned(keys, currentSchema(table)).na.drop("any", keyCols)
      .distinct().write.mode("errorifexists").parquet(delDir)
    val written = countedParquetsIn(spark, delDir)
    if (written.isEmpty) currentSnapshotId(table)
    else commit(table) { (entries, seq) =>
      entries ++ eqDeleteEntries(table, written, seq, keyCols)
    }
  }

  private def deleteWhereMor(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      outDir: String): Long = {
    val entries0 = loadEntries(table)
    // DELETE over an empty table affects zero rows: a legal no-op, never
    // the runner's compaction-specific empty-task error
    if (dataTasks(entries0).isEmpty) return currentSnapshotId(table)
    val data = CompactionRunner.scanWithHiddenCols(spark, dataTasks(entries0),
      currentSchema(table))
    // matched = predicate TRUE rows
    val (written, referenced) = writePositionDeletes(spark,
      data.filter(predicate), s"$outDir/delete-pos-${java.util.UUID.randomUUID()}")
    if (referenced.isEmpty) currentSnapshotId(table)
    else commit(table) { (entries, seq) =>
      requireLive(table, entries, referenced, "deleteWhere", "the delete scan")
      entries ++ posDeleteEntries(written, seq)
    }
  }

  private def deleteWhereCow(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      outDir: String): Long = withTableLock(table) {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val entries = loadEntries(table)
    val schema = currentSchema(table)
    // empty table: DELETE affects zero rows — a no-op, not the runner's
    // compaction-specific empty-task error (no `return`: this whole body
    // is the withTableLock closure)
    val affected =
      if (dataTasks(entries).isEmpty) Set.empty[String]
      else CompactionRunner.scanWithHiddenCols(spark, dataTasks(entries), schema)
        .filter(predicate)
        .select(col(graft.operators.MorPlanner.FilePathCol)).distinct()
        .collect().map(_.getString(0)).toSet // canonical (_metadata) paths
    if (affected.isEmpty) currentSnapshotId(table)
    else {
      val affTasks = dataTasks(entries)
        .filter(t => affected(CompactionRunner.canonKey(t.path)))
      val scan = CompactionRunner.scanWithHiddenCols(spark, affTasks, schema)
      val merged = graft.operators.MorPlanner.merge(scan,
        CompactionRunner.readPositionDeletes(spark,
          entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }),
        CompactionRunner.readEqualityDeletes(spark,
          entries.collect { case e if e.kind == "eqdel" =>
            EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
          }, Some(scan.schema)))
      val kept = merged.filter(not(coalesce(predicate, lit(false))))
      val cowDir = s"$outDir/delete-cow-${java.util.UUID.randomUUID()}"
      kept.write.mode("errorifexists").parquet(cowDir)
      commitCowLocked(table, affTasks.map(_.path), listParquetsIn(spark, cowDir))
    }
  }

  /** Range DELETE with METADATA-ONLY whole-file drops — the 100 TB shape of
    * `DELETE FROM t WHERE day < X`: a delete aligned with the table's
    * partition/clustering layout should cost metadata, not a scan. Files
    * are classified from the snapshot alone:
    *
    *  - '''provably disjoint''' (partition tuple or stats bounds exclude
    *    `[lo, hi]`): untouched, never scanned.
    *  - '''provably all-matching''': dropped from the snapshot outright —
    *    no scan, no delete file, no data IO. Two proofs work: stats bounds
    *    inside the range with a recorded NULL count of 0 (bounds alone
    *    cannot prove it — SQL keeps NULL-predicate rows, so one NULL would
    *    be wrongly deleted), or an `identity`/`truncate[w]` partition value
    *    whose covered interval sits inside the range (a NON-null tuple
    *    value also proves no NULLs: transforms map null → null, so null
    *    rows land in the null partition).
    *  - '''boundary''' (may contain both): scanned — only these — and
    *    their matching rows written as position-delete files, exactly
    *    [[deleteWhere]]'s MoR flavor.
    *
    * One snapshot commits both effects. Numeric int/long/double source
    * columns only (the proofs are interval arithmetic); equality is
    * `lo == hi`. Same optimistic concurrency as [[deleteWhere]]: the
    * classified files must still be live at commit time or the commit
    * fails with a typed conflict.
    */
  def deleteWhereRange(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Double,
      hi: Double,
      outDir: String): Long = {
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"empty delete range [$lo, $hi]")
    val entries0 = loadEntries(table)
    val dataEntries = entries0.filter(_.kind == "data")
    val pruner = partitionPruner(spark, table, column, lo, hi)
    val statsKept = CompactionRunner.pruneByStats(
      dataEntries.map(e => CompactionRunner.DataFileStats(e.path, 0L, 0L,
        e.stats.fold(Map.empty[String, String])(_.colMins),
        e.stats.fold(Map.empty[String, String])(_.colMaxs), Map.empty)),
      column, lo, hi).map(_.path).toSet
    val mayMatch = dataEntries.filter(e => pruner(e) && statsKept(e.path))

    val srcType = sourceColumnType(spark, table, column)
    val numericSource = srcType.exists(
      _.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val intSource = isIntType(srcType)
    val specFields = partitionSpec(table).filter(_.source == column)
    val Param = """([a-z]+)\[(\d+)\]""".r
    def allMatch(e: TableEntry): Boolean = {
      val byStats = numericSource && e.stats.exists { s =>
        (s.colMins.get(column), s.colMaxs.get(column),
          s.nullCounts.get(column)) match {
          case (Some(mn), Some(mx), Some(0L)) =>
            try mn.toDouble >= lo && mx.toDouble <= hi
            catch { case _: NumberFormatException => false }
          case _ => false
        }
      }
      def byPartition = specFields.exists { f =>
        // the file's RECORDED binding governs (spec-evolution safety;
        // same rule as partitionPruner)
        (e.partitionVals.get(f.name), e.partitionTransforms.get(f.name)) match {
          case (Some(v), Some(recorded)) if v != null =>
            val (transform, recSource) = recordedBinding(recorded, f.source)
            val pv = scala.util.Try(v.toDouble).toOption
            (transform, pv) match {
              case ("identity", Some(p))
                  if numericSource && recSource == column => p >= lo && p <= hi
              case (Param("truncate", w), Some(p))
                  if intSource && recSource == column =>
                // the SAME wrap guard partitionPruner applies: source
                // values within w of Long.MinValue WRAP to a tuple near
                // +Long.MaxValue — proving "all rows in [lo, hi]" from a
                // wrapped tuple would metadata-drop a whole file whose
                // rows the predicate never matched (silent data loss);
                // such tuples prove NOTHING here
                val wInt = w.toInt
                val nearWrap = p >= Long.MaxValue.toDouble - wInt ||
                  lo <= Long.MinValue.toDouble + wInt
                !nearWrap && p >= lo && p + wInt - 1 <= hi
              case _ => false
            }
          case _ => false
        }
      }
      byStats || byPartition
    }
    val dropped = mayMatch.filter(allMatch).map(_.path)
    val droppedSet = dropped.toSet
    val boundary = mayMatch.filterNot(e => droppedSet(e.path))

    val (written, referenced) =
      if (boundary.isEmpty) (Nil, Nil)
      else {
        val scan = CompactionRunner.scanWithHiddenCols(spark,
          boundary.map(e => DataFileTask(e.path, e.seqNum, e.format)),
          currentSchema(table))
        writePositionDeletes(spark,
          scan.filter(col(column) >= lo && col(column) <= hi),
          s"$outDir/delete-pos-${java.util.UUID.randomUUID()}")
      }
    if (dropped.isEmpty && referenced.isEmpty) currentSnapshotId(table)
    else commit(table) { (entries, seq) =>
      requireLive(table, entries, dropped ++ referenced, "deleteWhereRange",
        "classification")
      entries.filterNot(e => e.kind == "data" && droppedSet(e.path)) ++
        posDeleteEntries(written, seq)
    }
  }

  /** MERGE INTO — the conditional upsert (Iceberg/SQL:2003 MERGE), compiled
    * to the same MoR primitives as [[upsert]]: ONE commit containing an
    * equality-delete file over the matched keys (suppressing the old
    * versions of updated AND deleted rows) plus a data file with the
    * updated versions and the not-matched inserts. The new file's fresh
    * sequence number sits above the eq-delete, so updated rows are
    * immediately live while pre-merge versions stay suppressed.
    *
    *  - `whenMatchedSet`: per-column update expressions evaluated over the
    *    matched (target ⋈ source) row; target columns keep their names,
    *    source columns are exposed as `_src_<name>`. E.g.
    *    `Map("qty" -> (col("qty") + col("_src_delta")))`.
    *  - `whenMatchedDelete`: matched rows satisfying this condition (same
    *    namespace) are deleted instead of updated.
    *  - `whenNotMatchedInsert`: source rows matching no target key are
    *    inserted (the source must then contain every target column).
    *
    * Duplicate-key discipline is SQL MERGE's: the SOURCE must have at most
    * one row per key (rejected otherwise — the engine cannot know which
    * update wins); the TARGET may hold many rows per key and each one is
    * updated/deleted.
    *
    * Like [[upsert]], the distributed writes run outside the table lock and
    * the sequence number is allocated under it at commit time.
    */
  def mergeInto(
      spark: SparkSession,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      whenMatchedSet: Map[String, org.apache.spark.sql.Column],
      outDir: String,
      whenNotMatchedInsert: Boolean = true,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    require(keyCols.nonEmpty, "mergeInto requires key columns")
    require(whenMatchedSet.nonEmpty || whenMatchedDelete.nonEmpty ||
      whenNotMatchedInsert, "mergeInto requires at least one action clause")
    val srcPrefix = GraftCatalog.MergeSrcPrefix
    require(keyCols.forall(source.columns.contains),
      s"source is missing key columns ${keyCols.filterNot(source.columns.contains).mkString(", ")}")
    // SQL MERGE's cardinality rule, enforced up front in ONE aggregation
    // pass (a distinct().count() == count() pair would evaluate the source
    // plan twice)
    val srcKeys = source.select(keyCols.map(col): _*)
    require(srcKeys.groupBy(keyCols.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_graft_cnt"))
      .filter(col("_graft_cnt") > 1).isEmpty,
      "mergeInto source has multiple rows per key; SQL MERGE requires at " +
        "most one source row per target key")

    val entries0 = loadEntries(table)
    val liveAll = scanLiveWithHidden(spark, entries0, currentSchema(table))
    val userCols = liveAll.columns
      .filterNot(graft.operators.MorPlanner.HiddenCols.contains).toSeq
    val live = liveAll.select(userCols.map(col): _*)
    requireSetColsExist(whenMatchedSet, userCols)
    val src = source.columns.foldLeft(source)((df, c) =>
      df.withColumnRenamed(c, srcPrefix + c))
    val joinCond = keyCols.map(k => col(k) === col(srcPrefix + k)).reduce(_ && _)

    val matched = live.join(src, joinCond, "inner")
    val deleteCond = whenMatchedDelete.getOrElse(lit(false))
    val updated = matched.filter(not(coalesce(deleteCond, lit(false))))
      .select(userCols.map(c =>
        whenMatchedSet.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    val inserted =
      if (!whenNotMatchedInsert) updated.limit(0)
      else {
        val missing = userCols.filterNot(source.columns.contains)
        require(missing.isEmpty,
          s"whenNotMatchedInsert requires the source to carry every target " +
            s"column; missing: ${missing.mkString(", ")}")
        src.join(live.select(keyCols.map(col): _*), joinCond, "left_anti")
          .select(userCols.map(c => col(srcPrefix + c).as(c)): _*)
      }

    // matched keys (updates AND deletes) get eq-deleted; writes outside lock
    val token = java.util.UUID.randomUUID().toString
    val delDir = s"$outDir/merge-eqdel-$token"
    val dataDir = s"$outDir/merge-data-$token"
    // srcKeys is PROVEN unique per key by the cardinality require above,
    // and a left-semi join neither duplicates its left side nor cares
    // about build-side duplicates — the two distinct()s this carried were
    // two redundant exchanges on the merge path
    val matchedKeys = srcKeys
      .join(live.select(keyCols.map(col): _*), keyCols, "left_semi")
    // field-id re-alignment before writing, like the UPDATE writers
    val schema0 = currentSchema(table)
    aligned(matchedKeys, schema0).write.mode("errorifexists").parquet(delDir)
    aligned(updated.unionByName(inserted), schema0)
      .write.mode("errorifexists").parquet(dataDir)
    val deletes = countedParquetsIn(spark, delDir)
    val dataFiles = countedParquetsIn(spark, dataDir)
    if (deletes.isEmpty && dataFiles.isEmpty) currentSnapshotId(table)
    else commit(table) { (entries, seq) =>
      entries ++ eqDeleteEntries(table, deletes, seq, keyCols) ++
        dataFiles.map { case (p, rows, bytes) =>
          TableEntry("data", p, seq, "parquet", Nil,
            recordCount = rows, sizeBytes = bytes)
        }
    }
  }

  /** Live rows (pending pos/eq-deletes applied) WITH the hidden columns
    * kept — what the row-level mutation writers iterate: [[updateWhere]]
    * must not act on already-deleted rows (a MoR update of a suppressed row
    * would RESURRECT it as fresh data), and the writers need
    * `(file_path, pos)` to emit position deletes.
    */
  private def scanLiveWithHidden(
      spark: SparkSession, entries: Seq[TableEntry],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    // row-level DML over an EMPTY schema'd table (fresh catalog/REST
    // create) must see zero live rows and proceed — DELETE/UPDATE no-op,
    // MERGE inserts its whole source — not crash in the runner's
    // compaction-specific empty-task require
    if (dataTasks(entries).isEmpty) {
      schema match {
        case Some(s) =>
          import org.apache.spark.sql.types._
          val hidden = Seq(
            StructField(graft.operators.MorPlanner.SeqNumCol, LongType),
            StructField(graft.operators.MorPlanner.FilePathCol, StringType),
            StructField(graft.operators.MorPlanner.PosCol, LongType))
          return spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(s.fields.toSeq ++ hidden))
        case None =>
          throw new IllegalArgumentException(
            s"requirement failed: the table has no data files; " +
              "an empty table has no schema to scan")
      }
    }
    val data = CompactionRunner.scanWithHiddenCols(spark, dataTasks(entries), schema)
    val afterPos = CompactionRunner.readPositionDeletes(spark,
      entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) })
      .fold(data)(graft.operators.MorPlanner.applyPositionDeletes(data, _))
    CompactionRunner.readEqualityDeletes(spark,
      entries.collect { case e if e.kind == "eqdel" =>
        EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
      }, Some(data.schema))
      .foldLeft(afterPos)(graft.operators.MorPlanner.applyEqualityDeletes)
  }

  /** Row-level UPDATE — `UPDATE table SET col = expr, … WHERE predicate`,
    * composed from the same primitives as [[deleteWhere]]:
    *
    *  - '''MoR''' (default): one pass finds the LIVE matching rows (pending
    *    deletes applied first — updating an already-deleted row would
    *    resurrect it), then commits a position-delete file suppressing the
    *    old versions AND a new data file carrying the updated versions, in
    *    one snapshot. The new file's fresh sequence number sits above every
    *    pending eq-delete, so the updated rows are immediately live.
    *  - '''Copy-on-write''': rewrite only the files containing matching
    *    rows; within the rewrite, matched rows get the SET expressions and
    *    the rest pass through (`when(pred, set).otherwise(old)` per
    *    column), with pending deletes folded in like [[deleteWhereCow]].
    *
    * SQL semantics: a row is updated when the predicate is TRUE; NULL
    * leaves the row unchanged (both modes express this through
    * predicate-TRUE filters / `when`). SET columns must exist — this is an
    * update, not a schema change; [[evolveSchema]] owns that.
    *
    * Returns the committed snapshot id (current head when nothing matched).
    */
  def updateWhere(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      outDir: String,
      copyOnWrite: Boolean = false): Long = {
    require(set.nonEmpty, "updateWhere requires at least one SET column")
    if (copyOnWrite) updateWhereCow(spark, table, predicate, set, outDir)
    else updateWhereMor(spark, table, predicate, set, outDir)
  }

  private def requireSetColsExist(
      set: Map[String, org.apache.spark.sql.Column], cols: Seq[String]): Unit = {
    val missing = set.keys.filterNot(cols.contains)
    require(missing.isEmpty,
      s"SET columns ${missing.mkString(", ")} not in table schema " +
        s"(${cols.mkString(", ")}); schema changes go through evolveSchema")
  }

  private def updateWhereMor(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      outDir: String): Long = {
    import org.apache.spark.sql.functions.col
    val entries0 = loadEntries(table)
    val schema0 = currentSchema(table)
    val matched = scanLiveWithHidden(spark, entries0, schema0)
      .filter(predicate)
      .persist() // two writes (delete side + update side) off one pass
    try {
      val userCols = matched.columns
        .filterNot(graft.operators.MorPlanner.HiddenCols.contains).toSeq
      requireSetColsExist(set, userCols)
      val token = java.util.UUID.randomUUID().toString
      val (deletes, referenced) =
        writePositionDeletes(spark, matched, s"$outDir/update-pos-$token")
      val dataDir = s"$outDir/update-data-$token"
      aligned(matched.select(userCols.map(c =>
          set.get(c).map(_.as(c)).getOrElse(col(c))): _*), schema0)
        .write.mode("errorifexists").parquet(dataDir)
      val dataFiles = listParquetsIn(spark, dataDir)
      if (referenced.isEmpty) currentSnapshotId(table)
      else commit(table) { (entries, seq) =>
        requireLive(table, entries, referenced, "updateWhere", "the update scan")
        entries ++ posDeleteEntries(deletes, seq) ++
          dataFiles.map(p => TableEntry("data", p, seq, "parquet", Nil))
      }
    } finally matched.unpersist()
  }

  private def updateWhereCow(
      spark: SparkSession,
      table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      outDir: String): Long = withTableLock(table) {
    import org.apache.spark.sql.functions.{col, when}
    val entries = loadEntries(table)
    val schema = currentSchema(table)
    val live = scanLiveWithHidden(spark, entries, schema)
    val affected = live.filter(predicate)
      .select(col(graft.operators.MorPlanner.FilePathCol)).distinct()
      .collect().map(_.getString(0)).toSet
    if (affected.isEmpty) currentSnapshotId(table)
    else {
      val affTasks = dataTasks(entries)
        .filter(t => affected(CompactionRunner.canonKey(t.path)))
      val affLive = scanLiveWithHidden(spark,
        entries.filterNot(e => e.kind == "data" &&
          !affected(CompactionRunner.canonKey(e.path))), schema)
      val userCols = affLive.columns
        .filterNot(graft.operators.MorPlanner.HiddenCols.contains).toSeq
      requireSetColsExist(set, userCols)
      val rewritten = affLive.select(userCols.map { c =>
        set.get(c).fold(col(c))(expr => when(predicate, expr).otherwise(col(c)).as(c))
      }: _*)
      val cowDir = s"$outDir/update-cow-${java.util.UUID.randomUUID()}"
      // the when/otherwise rewrite strips column metadata on SET columns
      aligned(rewritten, schema).write.mode("errorifexists").parquet(cowDir)
      commitCowLocked(table, affTasks.map(_.path), listParquetsIn(spark, cowDir))
    }
  }

  /** The copy-on-write commit of [[deleteWhere]] / [[updateWhere]]: the
    * files rewritten from `replaced` land at the next sequence number in
    * their place. Callers hold the table lock — the rewrite ran under it.
    */
  private def commitCowLocked(
      table: String, replaced: Seq[String], rewritten: Seq[String]): Long =
    commitLocked(table) { (entries, seq) =>
      without(entries, replaced) ++
        rewritten.map(p => TableEntry("data", p, seq, "parquet", Nil))
    }

  /** Roll the table back to a retained earlier snapshot (Iceberg's
    * `rollback_to_snapshot`): a METADATA-ONLY commit that re-installs the
    * old snapshot's entries as a NEW snapshot — history stays linear and
    * intact (the rolled-back snapshots remain readable until expiry),
    * exactly like Iceberg, rather than moving the pointer backwards and
    * stranding unreachable snapshot documents.
    */
  def rollbackTo(
      table: String,
      snapshotId: Long,
      expectedHead: Option[Long] = None): Long = withTableLock(table) {
    val head = currentSnapshotId(table)
    if (snapshotId == head && expectedHead.forall(_ == head)) head
    else commitLocked(table, expectedHead, schema = _ => schemaAt(table, snapshotId)) {
      (_, _) =>
        require(snapshotIds(table).contains(snapshotId),
          s"snapshot $snapshotId of $table does not exist (expired or never " +
            s"committed); retained: ${snapshotIds(table).mkString(", ")}")
        readSnapshot(table, snapshotId)
    }
  }

  /** Incremental (append-diff) file set: DATA files present in `toSnapshot`
    * but not in `fromSnapshot` — Iceberg's incremental append scan. The
    * diff is meaningful between append/upsert commits; across a compaction
    * commit it returns the rewritten files (a physical, not logical,
    * change), exactly like Iceberg's incremental scan over a REPLACE
    * snapshot — callers doing CDC should read between non-replace commits.
    */
  def appendedFilesBetween(
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Long): Seq[DataFileTask] = {
    val before = loadTableAt(table, fromSnapshotId)
      .map(t => CompactionRunner.canonPath(t.path)).toSet
    loadTableAt(table, toSnapshotId)
      .filterNot(t => before(CompactionRunner.canonPath(t.path)))
  }

  /** Incremental read: the rows appended between two snapshots (one scan of
    * exactly the appended files — at 100 TB this touches only the delta,
    * never the table). Hidden columns projected away.
    */
  def scanAppendedBetween(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    val tasks = appendedFilesBetween(table, fromSnapshotId, toSnapshotId)
    require(tasks.nonEmpty, s"no files appended between snapshots " +
      s"$fromSnapshotId and $toSnapshotId of $table")
    // resolve by the to-snapshot's canonical schema: the appended window may
    // span a rename, and a by-name merge would emit both generations' names
    val scanned = CompactionRunner.scanWithHiddenCols(spark, tasks,
      schemaAt(table, toSnapshotId))
    val userCols = scanned.columns
      .filterNot(graft.operators.MorPlanner.HiddenCols.contains)
    scanned.select(userCols.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** Changelog (CDC) scan: the NET row-level changes between two snapshots,
    * tagged `_change_type` `'I'` (insert) / `'D'` (delete) — Iceberg's
    * `create_changelog_view` for append/delete/update windows. Consumers:
    * incremental downstream refresh, audit, replication.
    *
    * Metadata-driven, never a full-table diff: changes are derived from
    * the snapshot FILE diff, so the scan cost is the window's delta files
    * plus the old files they reference —
    *
    *  - '''inserts''': data files present at `to` but not at `from`
    *    (appends/upsert data/update new-versions), MoR-merged against
    *    `to`'s delete files — a row inserted AND deleted inside the window
    *    never appears (net semantics).
    *  - '''deletes''': rows of `from`'s data files that were live at
    *    `from` but are suppressed at `to` — ONE scan of the old files with
    *    both snapshots' delete sets applied, then an anti join of the two
    *    live row-sets on the hidden `(file_path, pos)` identity (row
    *    identity by physical position — exact, no content compare).
    *    Rows already dead at `from` don't re-report.
    *
    * Upserts thus emit `'D'` for each suppressed old version and `'I'` for
    * its replacement — downstream updates are the `D`+`I` pair keyed by the
    * equality columns, exactly Iceberg's update_before/update_after pairing.
    *
    * Data files REMOVED without replacement (a [[deleteWhereRange]]
    * metadata-only drop) report all their `from`-live rows as deletes.
    * COMPACTION windows — commits that remove AND add data files — are
    * rejected (same as Iceberg's changelog on replace snapshots): a
    * rewrite re-homes rows to new files with no net change, and
    * net-diffing it would require content comparison. Windows on either
    * side of a compaction remain queryable.
    */
  def changelog(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame =
    changelogParts(spark, table, fromSnapshotId, toSnapshotId)
      .reduce(_.unionByName(_))

  /** [[changelog]] WITHOUT the final I/D union: the branch frames in
    * union order. The DSv2 changelog stream serves these group-wise
    * ([[graft.sources.dsv2]]'s `servableRdds`): each branch is a narrow
    * plan (file scans + broadcast marker joins) in the common case, so
    * the micro-batch's partitions stay lazy file-task slices — a
    * top-level union would force the eager materialize-and-reshuffle
    * serving shape on every CDC batch.
    */
  def changelogParts(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Long): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromSnapshotId < toSnapshotId,
      s"changelog window must advance: $fromSnapshotId >= $toSnapshotId")
    val ids = snapshotIds(table)
      .filter(id => id > fromSnapshotId && id <= toSnapshotId)
    (Seq(fromSnapshotId) ++ ids).sliding(2).foreach {
      case Seq(parent, child) =>
        val parentData = readSnapshot(table, parent)
          .collect { case e if e.kind == "data" => e.path }.toSet
        val childData = readSnapshot(table, child)
          .collect { case e if e.kind == "data" => e.path }.toSet
        val removed = parentData -- childData
        val added = childData -- parentData
        // remove-ONLY commits are metadata deletes (their rows diff below);
        // remove+add in one commit is a rewrite — no net change, rejected
        if (removed.nonEmpty && added.nonEmpty)
          throw GraftError.Metadata(
            s"changelog window ($fromSnapshotId, $toSnapshotId] of $table " +
              s"crosses a rewrite at snapshot $child (data files removed: " +
              s"${removed.take(2).mkString(", ")}…); changelog is defined " +
              "for append/delete/update commits — query the windows on " +
              "either side of the compaction")
      case _ => ()
    }
    val fromE = readSnapshot(table, fromSnapshotId)
    val toE = readSnapshot(table, toSnapshotId)
    val fromPaths = fromE.collect { case e if e.kind == "data" => e.path }.toSet
    val oldTasks = dataTasks(fromE)
    val newTasks = dataTasks(toE).filterNot(t => fromPaths(t.path))
    val schema = schemaAt(table, toSnapshotId)

    def pos(es: Seq[TableEntry]) =
      es.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) }
    def eq(es: Seq[TableEntry]) =
      es.collect { case e if e.kind == "eqdel" =>
        EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
      }
    // MoR application KEEPING the hidden identity columns (merge() projects
    // them away; the delete diff below joins on them)
    def liveWithHidden(scan: DataFrame, es: Seq[TableEntry]): DataFrame = {
      val afterPos = CompactionRunner.readPositionDeletes(spark, pos(es))
        .fold(scan)(pd => graft.operators.MorPlanner.applyPositionDeletes(scan, pd))
      CompactionRunner.readEqualityDeletes(spark, eq(es), Some(scan.schema))
        .foldLeft(afterPos)(graft.operators.MorPlanner.applyEqualityDeletes)
    }
    val hidden = graft.operators.MorPlanner.HiddenCols
    def dropHidden(df: DataFrame) =
      df.select(df.columns.filterNot(hidden.contains).map(col).toSeq: _*)

    val inserts =
      if (newTasks.isEmpty) None
      else Some(dropHidden(liveWithHidden(
        CompactionRunner.scanWithHiddenCols(spark, newTasks, schema), toE))
        .withColumn("_change_type", lit("I")))
    // the delete diff only needs the old files whose rows COULD have been
    // suppressed inside the window: files REMOVED by it (metadata drops —
    // every from-live row reports 'D') plus files REFERENCED by the
    // window's new POSITIONAL delete files (one bounded read of the
    // delete files themselves names them). Only new EQUALITY deletes can
    // suppress rows anywhere — they fall back to the full from-scan.
    // At 100 TB this is the difference between a changelog step costing
    // O(its delta) and O(the table) — the contract the streaming CDC
    // source relies on.
    val toCanonSet = toE.collect { case e if e.kind == "data" =>
      CompactionRunner.canonKey(e.path)
    }.toSet
    val newDeleteEntries = {
      val fromDel = fromE.collect {
        case e if e.kind != "data" => (e.kind, e.path)
      }.toSet
      toE.filter(e => e.kind != "data" && !fromDel((e.kind, e.path)))
    }
    // New EQUALITY deletes can suppress rows anywhere — but the delete
    // KEYS name the files a doomed row could live in: one bounded read of
    // the (delta-sized) delete files, then partition-tuple + min/max +
    // bloom pruning over from's entries picks the candidates. Unbounded
    // key sets (over the cap, null keys) keep today's full from-scan.
    val newEqEntries = newDeleteEntries.filter(_.kind == "eqdel")
    // ONE read of the window's new eq-delete keys (r21, folding r20's
    // deliberately-kept double read): the distinct (keys, seq) rows feed
    // BOTH the candidate pruning and the marker builds below — per CDC
    // batch the marker previously paid a second delete-file read plus a
    // planning-time collect job on the streaming hot path
    val eqWindows: Option[Seq[EqKeyWindow]] =
      if (newEqEntries.isEmpty) Some(Nil)
      else changelogEqKeyWindows(spark, newEqEntries, schema)
    val eqCandidates: Option[Set[String]] =
      if (newEqEntries.isEmpty) Some(Set.empty)
      else eqWindows.map(ws => eqDiffCandidatesFromWindows(
        table, fromE.filter(_.kind == "data"), ws, schema))
    // The window's new POSITION-delete pairs, collected driver-side when
    // their byte sum is provably under the delete-broadcast cap — exactly
    // the rows the marker join below would broadcast anyway (same gate,
    // same driver-sized result). A driver-held pair set (1) feeds the
    // diff's referenced-file restriction without a second job and (2)
    // builds the marker from a LocalRelation, keeping the D branch free
    // of shuffles — what lets the CDC stream serve it as lazy file-task
    // partitions. Over the cap (or on any read failure) everything falls
    // back to the distributed read + shuffled join, today's behavior.
    val newPosTasks = pos(newDeleteEntries)
    val posPairs: Option[IndexedSeq[(String, Long)]] =
      if (newPosTasks.isEmpty) Some(IndexedSeq.empty)
      else if (!CompactionRunner.provablySmall(
          spark, newPosTasks.map(t => (t.path, t.sizeBytes)))) None
      else try {
        CompactionRunner.readPositionDeletes(spark, newPosTasks)
          .map(_.select(col(graft.operators.MorPlanner.FilePathCol),
              col(graft.operators.MorPlanner.PosCol))
            .distinct().collect()
            .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq)
      } catch { case scala.util.control.NonFatal(_) => None }
    val oldForDiff: Seq[DataFileTask] = eqCandidates match {
      case None => oldTasks
      case Some(eqKeep) =>
        val referenced: Set[String] = posPairs match {
          case Some(pairs) =>
            pairs.map(p => CompactionRunner.canonKey(p._1)).toSet
          case None =>
            if (newPosTasks.isEmpty) Set.empty
            else CompactionRunner.readPositionDeletes(spark, newPosTasks)
              .map(_.select(col(graft.operators.MorPlanner.FilePathCol))
                .distinct().collect()
                .map(r => CompactionRunner.canonKey(r.getString(0))).toSet)
              .getOrElse(Set.empty)
        }
        oldTasks.filter(t => {
          val k = CompactionRunner.canonKey(t.path)
          !toCanonSet(k) || referenced(k) || eqKeep(k)
        })
    }
    val deletes =
      if (oldForDiff.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{coalesce, max}
        val fp = graft.operators.MorPlanner.FilePathCol
        val pc = graft.operators.MorPlanner.PosCol
        val sq = graft.operators.MorPlanner.SeqNumCol
        def quoted(n: String) = "`" + n.replace("`", "``") + "`"
        val scanOld = CompactionRunner.scanWithHiddenCols(spark, oldForDiff, schema)
        val liveFrom = liveWithHidden(scanOld, fromE)
        // A from-live row is dead at `to` iff its FILE left the snapshot
        // (metadata drop — contributes no rows at `to`) or a delete entry
        // NEW in the window kills it: the window cannot rewrite data files
        // (guard above), so sequence numbers are stable and a row that
        // survived every from-delete can only die to an ADDED delete file.
        // Marking those conditions on ONE pass over liveFrom — broadcast
        // left-outer joins against the DELTA-sized new delete sets —
        // replaces the previous second full scan of the old files plus the
        // anti join whose build side was the entire liveTo subplan (at
        // scale: a table-sized broadcast, or a full-width shuffle). The
        // markers are filters, not unions, so an overlap (a dropped file's
        // row also matched by a new eq-delete) can never duplicate a row.
        // membership list bounded by the DIFF's file set (delta-sized),
        // not all of `to`'s files — and phrased over the SMALLER of the
        // two partitions (r21, r20 advice): in the eqCandidates=None
        // fallback oldForDiff is ALL from-files, and an In() over a
        // 100 TB table's surviving inventory would bloat the plan when
        // one isin over the few dropped files says the same thing
        val (present, removed) = oldForDiff
          .map(t => CompactionRunner.canonKey(t.path))
          .partition(toCanonSet)
        val dropped =
          if (removed.isEmpty) lit(false) // every scanned file survived
          else if (present.isEmpty) lit(true) // every scanned file left
          else if (removed.size <= present.size) col(fp).isin(removed: _*)
          else !col(fp).isin(present: _*)
        // marker build sides ride the same size-gated broadcast hint every
        // delete-set join uses (entry-recorded byte sums vs the cap) — an
        // oversized delete window falls back to a shuffled join instead of
        // forcing an unbounded broadcast
        def hinted(df: DataFrame, entries: Seq[TableEntry]): DataFrame =
          CompactionRunner.hintSmall(spark, df,
            entries.map(e => (e.path, e.sizeBytes)))
        val posMark = "_graft_cdc_posm"
        val withPos = posPairs match {
          case Some(pairs) if pairs.isEmpty =>
            liveFrom.withColumn(posMark, lit(false))
          case Some(pairs) =>
            // LocalRelation build side (driver-held pairs, provably under
            // the broadcast cap) — no distinct shuffle in the served plan
            import spark.implicits._
            liveFrom.join(
              org.apache.spark.sql.functions.broadcast(
                pairs.toDF(fp, pc).withColumn(posMark, lit(true))),
              Seq(fp, pc), "left_outer")
              .withColumn(posMark, coalesce(col(posMark), lit(false)))
          case None => CompactionRunner.readPositionDeletes(
              spark, newPosTasks) match {
            case None => liveFrom.withColumn(posMark, lit(false))
            case Some(pd) =>
              liveFrom.join(
                hinted(pd.select(col(fp), col(pc)).distinct()
                  .withColumn(posMark, lit(true)),
                  newDeleteEntries.filter(_.kind == "posdel")),
                Seq(fp, pc), "left_outer")
                .withColumn(posMark, coalesce(col(posMark), lit(false)))
          }
        }
        val eqGroups = CompactionRunner.readEqualityDeletes(
          spark, eq(newDeleteEntries), Some(scanOld.schema))
        val (marked, eqMarks) = eqGroups.zipWithIndex
          .foldLeft((withPos, Seq.empty[String])) {
            case ((df, marks), (g, i)) =>
              val m = s"_graft_cdc_eqm$i"
              // one row per key carrying the NEWEST delete sequence:
              // `data.seq < max(del.seq)` is exactly "some delete in the
              // group kills the row", and the distinct keys keep the
              // outer join cardinality-preserving (no row duplication)
              lazy val grouped = g.df
                .groupBy(g.equalityCols.map(c => col(quoted(c))): _*)
                .agg(max(col(sq)).as(sq))
              // the windows already collected this group's distinct
              // (keys, seq) rows — max-seq per key folds on the DRIVER
              // when every key type carries value equality (a binary key
              // is an Array ref compare; Float/Double ±0.0 split keys SQL
              // `=` would merge — both fall back), so the common case
              // reads the delete files ONCE per window and plans the
              // marker with no collect job at all
              val sharedKeys: Option[DataFrame] =
                eqWindows.flatMap(_.lift(i)).collect {
                  case w if w.equalityCols == g.equalityCols &&
                      GraftCatalog.driverGroupSafe(w.schema) =>
                    val k = w.schema.length - 1
                    val folded = w.rows
                      .groupBy(r => (0 until k).map(r.get).toVector)
                      .map { case (key, rs) =>
                        org.apache.spark.sql.Row.fromSeq(
                          key :+ rs.map(_.getLong(k)).max)
                      }.toArray
                    org.apache.spark.sql.functions.broadcast(
                      spark.createDataFrame(
                        java.util.Arrays.asList(folded: _*), w.schema))
                }
              // no shared window (over-cap, null keys, ref-equality key
              // types): key sets within the changelog cap collect
              // driver-side and join as a LocalRelation build, keeping
              // the D branch shuffle-free; over the cap, the distributed
              // aggregate build stays
              val cap = GraftCatalog.ChangelogEqKeyCap
              val localKeys: Option[DataFrame] = sharedKeys.orElse {
                try {
                  val rs = grouped.limit(cap + 1).collect()
                  if (rs.length > cap) None
                  else Some(org.apache.spark.sql.functions.broadcast(
                    spark.createDataFrame(
                      java.util.Arrays.asList(rs: _*), grouped.schema)))
                } catch { case scala.util.control.NonFatal(_) => None }
              }
              val keys = localKeys
                .getOrElse(hinted(grouped,
                  newDeleteEntries.filter(_.kind == "eqdel")))
                .withColumn(m, lit(true))
              val d = df.as("graft_cdc_d")
              val k = keys.as("graft_cdc_k")
              val cond = g.equalityCols.map(c =>
                  col(s"graft_cdc_d.${quoted(c)}") ===
                    col(s"graft_cdc_k.${quoted(c)}")).reduce(_ && _) &&
                (col(s"graft_cdc_d.$sq") < col(s"graft_cdc_k.$sq"))
              val joined = d.join(k, cond, "left_outer")
              val kept = df.columns.toSeq.map(c =>
                col(s"graft_cdc_d.${quoted(c)}").as(c)) :+
                coalesce(col(s"graft_cdc_k.$m"), lit(false)).as(m)
              (joined.select(kept: _*), marks :+ m)
          }
        val killed = (col(posMark) +: eqMarks.map(col))
          .foldLeft(dropped)(_ || _)
        Some(dropHidden(marked.filter(killed)
          .drop((posMark +: eqMarks): _*))
          .withColumn("_change_type", lit("D")))
      }
    val parts = inserts.toSeq ++ deletes.toSeq
    if (parts.isEmpty)
      throw GraftError.Metadata(
        s"changelog of $table: neither snapshot has data files")
    parts
  }

  /** The planning half of the changelog's equality-delete diff
    * restriction: which of `fromData`'s files COULD hold a row suppressed
    * by one of the window's NEW equality-delete files. Returns the
    * canonical keys of the candidate files, or None when the delete keys
    * can't be bounded (more distinct key tuples than
    * [[GraftCatalog.ChangelogEqKeyCap]], a null key value, an unreadable
    * delete file) — the caller then falls back to scanning every
    * from-file, the previous conservative behavior.
    *
    * Proof sources are the same metadata [[eqStringKeptEntries]] uses for
    * point lookups: the partition tuple each file recorded under the
    * transform that WROTE it (identity / bucket / truncate, string and
    * integral sources), per-file min/max bounds with TYPED comparison
    * (numeric columns compare as numbers — the stringified-bound
    * lexicographic trap — strings and dates as the writer ordered them),
    * the advisory per-file bloom sidecar, plus the sequence-number guard
    * (an equality delete only suppresses rows of files with a strictly
    * OLDER sequence). Conservative on every unknown: keeping a file only
    * costs IO; a file is skipped only on proof no delete key can match it.
    *
    * At 100 TB this is what bounds a point-delete CDC step: the r12
    * key-equality DELETE fast path commits eq-delete files for point
    * deletes, and without this restriction every changelog window carrying
    * one pays a full table scan. With it, the step reads the delta's
    * delete files (driver-bounded: ≤ cap distinct keys) plus only the data
    * files whose metadata admits a match — O(delta), not O(table).
    */
  private[graft] def changelogEqDiffCandidates(
      spark: SparkSession,
      table: String,
      fromData: Seq[TableEntry],
      newEqDeletes: Seq[TableEntry],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[Set[String]] =
    changelogEqKeyWindows(spark, newEqDeletes, schema)
      .map(ws => eqDiffCandidatesFromWindows(table, fromData, ws, schema))

  /** One group's collected equality-delete keys: the data-side equality
    * column names, the DISTINCT (key values…, delete seq) rows, and the
    * rows' schema — the one driver-bounded read of a changelog window's
    * new eq-delete files that both the candidate pruning and the D-branch
    * marker builds share (r21; previously each consumer read the files
    * itself).
    */
  private[graft] final case class EqKeyWindow(
      equalityCols: Seq[String],
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType)

  /** Collect the distinct (keys, seq) rows of each new-eq-delete group,
    * one group per [[EqKeyWindow]] in [[CompactionRunner.readEqualityDeletes]]
    * order. None when the keys can't be driver-bounded (more distinct
    * tuples than [[GraftCatalog.ChangelogEqKeyCap]], a null key value, an
    * unreadable delete file) — callers then keep their conservative
    * fallbacks (full from-scan; distributed marker build).
    */
  private[graft] def changelogEqKeyWindows(
      spark: SparkSession,
      newEqDeletes: Seq[TableEntry],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[Seq[EqKeyWindow]] = {
    import org.apache.spark.sql.functions.col
    val cap = GraftCatalog.ChangelogEqKeyCap
    val tasks = newEqDeletes.map(e =>
      EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes))
    // the delete files are the window's delta, so this read is bounded by
    // construction; the cap bounds the driver-side collect
    try Some(CompactionRunner.readEqualityDeletes(spark, tasks, schema).map { g =>
      val sel = g.df
        .select((g.equalityCols :+ graft.operators.MorPlanner.SeqNumCol)
          .map(col): _*)
      val rows = sel.distinct().limit(cap + 1).collect()
      if (rows.length > cap) return None
      if (rows.exists(r => (0 until r.length - 1).exists(r.isNullAt)))
        return None // null-keyed deletes: bounds/blooms can't prove absence
      EqKeyWindow(g.equalityCols, rows, sel.schema)
    })
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The pruning half of [[changelogEqDiffCandidates]], fed by the shared
    * [[EqKeyWindow]] collect.
    */
  private def eqDiffCandidatesFromWindows(
      table: String,
      fromData: Seq[TableEntry],
      windows: Seq[EqKeyWindow],
      schema: Option[org.apache.spark.sql.types.StructType])
      : Set[String] = {
    import org.apache.spark.sql.types._
    val keyed: Seq[(Seq[String], Array[org.apache.spark.sql.Row])] =
      windows.map(w => (w.equalityCols, w.rows))
    val fieldType: Map[String, DataType] =
      schema.fold(Map.empty[String, DataType])(
        _.fields.map(f => f.name -> f.dataType).toMap)
    val specFields = partitionSpec(table)
    val Param = """([a-z]+)\[(\d+)\]""".r
    def longOf(v: Any): Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case _ => None
    }
    // partition-tuple proof per (file, column, probe value) — the
    // spec-evolution-safe recorded binding, like [[eqStringKeptEntries]]
    def tupleKeeps(e: TableEntry, column: String, v: Any): Boolean =
      specFields.filter(_.source == column).forall { f =>
        (e.partitionVals.get(f.name), e.partitionTransforms.get(f.name)) match {
          case (Some(pv), Some(recorded)) if pv == null =>
            // non-void transforms are null-intolerant: the null partition
            // holds only null-source rows, which a non-null key never hits
            val (transform, recSource) = recordedBinding(recorded, f.source)
            recSource != column || transform == "void"
          case (Some(pv), Some(recorded)) =>
            val (transform, recSource) = recordedBinding(recorded, f.source)
            if (recSource != column) true
            else (transform, fieldType.get(column), longOf(v)) match {
              case ("identity", Some(StringType), _) =>
                pv == v.asInstanceOf[String]
              case ("identity", _, Some(lv)) =>
                scala.util.Try(pv.toLong == lv).getOrElse(true)
              case (Param("bucket", n), Some(StringType), _) =>
                pv == graft.functions.IcebergMurmur3.bucketUTF8(
                  org.apache.spark.unsafe.types.UTF8String.fromString(
                    v.asInstanceOf[String]), n.toInt).toString
              case (Param("bucket", n), _, Some(lv)) =>
                scala.util.Try(pv.toInt ==
                  graft.functions.IcebergMurmur3.bucketLong(lv, n.toInt))
                  .getOrElse(true)
              case (Param("truncate", w), Some(StringType), _) =>
                pv == v.asInstanceOf[String].take(w.toInt)
              case (Param("truncate", w), _, Some(lv)) =>
                // exact writer-side truncate of the probe (floored mod) —
                // deterministic, so equality is sound even near the wrap
                scala.util.Try(pv.toLong ==
                  lv - java.lang.Math.floorMod(lv, w.toLong)).getOrElse(true)
              case _ => true
            }
          case _ => true
        }
      }
    // typed min/max proof — stringified bounds compare numerically for
    // numeric columns ("10" < "9" lexicographically), lexicographically
    // for strings and dates (the renderings the stats audit recorded)
    def boundsKeep(e: TableEntry, column: String, v: Any): Boolean =
      e.stats.forall { s =>
        (s.colMins.get(column), s.colMaxs.get(column)) match {
          case (Some(mn), Some(mx)) if mn != "null" && mx != "null" &&
              mn != "below_min" && mx != "above_max" =>
            fieldType.get(column) match {
              case Some(StringType) | Some(DateType) =>
                val sv = String.valueOf(v)
                mn <= sv && sv <= mx
              case Some(ByteType | ShortType | IntegerType | LongType |
                  FloatType | DoubleType | _: DecimalType) =>
                try {
                  val bv = new java.math.BigDecimal(String.valueOf(v))
                  new java.math.BigDecimal(mn).compareTo(bv) <= 0 &&
                    bv.compareTo(new java.math.BigDecimal(mx)) <= 0
                } catch { case _: NumberFormatException => true }
              case _ => true
            }
          case _ => true
        }
      }
    // advisory bloom sidecar (string columns): a 0-bit proves absence
    // where bounds straddle everything on an unclustered column
    val bloomsByCol = scala.collection.mutable.HashMap
      .empty[String, Map[String, Array[Byte]]]
    val parsedBlooms = scala.collection.mutable.HashMap
      .empty[(String, String), org.apache.spark.util.sketch.BloomFilter]
    def bloomKeep(e: TableEntry, column: String, v: Any): Boolean =
      fieldType.get(column) match {
        case Some(StringType) =>
          val blooms = bloomsByCol.getOrElseUpdate(column,
            readBlooms(table, column))
          val key = CompactionRunner.canonPath(e.path)
          blooms.get(key).forall { bytes =>
            parsedBlooms.getOrElseUpdate((column, key),
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bytes)))
              .mightContainString(v.asInstanceOf[String])
          }
        case _ => true
      }
    val kept = fromData.filter { e =>
      keyed.exists { case (cols, rows) =>
        rows.exists { r =>
          // seq guard: deletes never suppress rows of same-or-newer files
          e.seqNum < r.getLong(r.length - 1) &&
            cols.zipWithIndex.forall { case (c, i) =>
              val v = r.get(i)
              tupleKeeps(e, c, v) && boundsKeep(e, c, v) && bloomKeep(e, c, v)
            }
        }
      }
    }
    kept.map(e => CompactionRunner.canonKey(e.path)).toSet
  }

  /** Orphan detection: which of `candidates` (e.g. a storage listing) are
    * referenced by NO retained snapshot — safe to garbage-collect after
    * [[expireSnapshots]]. Pure metadata; deletion is the caller's call.
    */
  def orphanFiles(table: String, candidates: Seq[String]): Seq[String] = {
    val live: Set[String] = snapshotIds(table)
      .flatMap(id => readSnapshot(table, id))
      .flatMap(t => Seq(t.path, CompactionRunner.canonPath(t.path)))
      .toSet
    candidates.filterNot(c => live(c) || live(CompactionRunner.canonPath(c)))
  }

  def snapshotIds(table: String): Seq[Long] = {
    val stream = Files.list(tableDir(table))
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".tsv") =>
        s.stripPrefix("snap-").stripSuffix(".tsv").toLong
      }.toSeq.sorted
    finally stream.close() // Files.list leaks a directory fd if not closed
  }

  /** Commit wall-clock of snapshot `id` in epoch millis — the snapshot
    * document's mtime (documents are write-once, so the mtime IS the
    * commit time; the same source the REST snapshot log serves).
    */
  def snapshotTimestampMs(table: String, id: Long): Long = {
    val p = snapPath(table, id)
    require(Files.exists(p),
      s"snapshot $id of $table does not exist (expired or never committed)")
    Files.getLastModifiedTime(p).toMillis
  }

  /** Iceberg's `TIMESTAMP AS OF`: the latest retained snapshot committed
    * at or before `ms`. Errors when the table has no snapshot that old
    * (same contract as Iceberg's SnapshotUtil lookup).
    */
  def snapshotIdAsOf(table: String, ms: Long): Long = {
    val ids = snapshotIds(table)
    ids.filter(snapshotTimestampMs(table, _) <= ms).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of $table at or before timestamp $ms; earliest " +
          s"retained commit is ${ids.headOption.map(snapshotTimestampMs(table, _))
            .getOrElse("<none>")}"))
  }

  /** Iceberg-style commit summary of snapshot `id` (the `summary` map every
    * catalog UI renders next to a snapshot), computed by DIFFING the
    * snapshot's entry list against its predecessor's — the counts are
    * already in the entries, so nothing extra is persisted and historical
    * snapshots summarize for free. None when the predecessor document was
    * expired (the delta is no longer derivable); snapshot 1 diffs against
    * the empty table.
    *
    * Operation names follow Iceberg's: `append` (data added only),
    * `overwrite` (data + delete files added — upsert/MERGE/row-level
    * UPDATE), `delete` (removals or delete files only), `replace`
    * (data rewritten — compaction), plus the extension `metadata` for
    * commits that change no entries (schema/spec evolution — Iceberg
    * doesn't snapshot those; this catalog does).
    */
  def snapshotSummary(table: String, id: Long)
      : Option[GraftCatalog.SnapshotSummary] = {
    if (!Files.exists(snapPath(table, id))) return None
    val prev: Seq[TableEntry] =
      if (id <= 1) Nil
      else if (Files.exists(snapPath(table, id - 1))) readSnapshot(table, id - 1)
      else return None
    val cur = readSnapshot(table, id)
    def keyed(es: Seq[TableEntry]) =
      es.map(e => CompactionRunner.canonPath(e.path) -> e).toMap
    val (prevK, curK) = (keyed(prev), keyed(cur))
    val added = curK.view.filterKeys(!prevK.contains(_)).values.toSeq
    val removed = prevK.view.filterKeys(!curK.contains(_)).values.toSeq
    def recs(es: Seq[TableEntry]): Option[Long] = {
      val data = es.filter(_.kind == "data")
      if (data.isEmpty) Some(0L)
      else if (data.exists(_.recordCount < 0)) None // partial sum ≠ total
      else Some(data.map(_.recordCount).sum)
    }
    val (addData, addDel) = added.partition(_.kind == "data")
    val (remData, remDel) = removed.partition(_.kind == "data")
    val op =
      if (added.isEmpty && removed.isEmpty) "metadata"
      else if (addData.nonEmpty && remData.nonEmpty) "replace"
      else if (addDel.nonEmpty) { if (addData.nonEmpty) "overwrite" else "delete" }
      else if (addData.nonEmpty) "append"
      else "delete"
    Some(GraftCatalog.SnapshotSummary(op,
      addData.size, remData.size, addDel.size, remDel.size,
      recs(addData), recs(remData)))
  }

  /** Optimistic append commit at an EXPLICIT expected head — the primitive
    * behind the REST facade's `CommitTable` endpoint: the caller (an
    * external engine that loaded the table at `expectedHead`) adds data
    * files it already wrote, and the commit succeeds only if the table
    * still sits at that snapshot. Iceberg's assert-ref-snapshot-id
    * requirement, enforced under the table lock — on a store-backed
    * catalog the [[advanceHead]] CAS re-checks the same base across
    * drivers this lock can't see. Throws [[GraftError.Metadata]] on a
    * stale base (the facade renders it as the spec's 409).
    */
  def commitAppendAt(
      table: String,
      expectedHead: Long,
      files: Seq[GraftCatalog.AddedFile]): Long =
    commitAppendFiles(table, Some(expectedHead), files)

  /** Copy-on-write REPLACEMENT commit: retire every entry (data + delete
    * files) of the snapshot the caller read, land `files` as the new data
    * file set — the commit shape of a DSv2 `ReplaceData` (row-level
    * DELETE/UPDATE/MERGE in copy-on-write mode) and of TRUNCATE (empty
    * `files`). The base is asserted UNDER the table lock: a concurrent
    * commit between the caller's scan and this replace throws the
    * retryable conflict instead of having its rows silently dropped by a
    * replacement that never read them.
    */
  def commitReplaceAt(
      table: String,
      expectedHead: Long,
      files: Seq[GraftCatalog.AddedFile]): Long =
    commitReplace(table, Some(expectedHead), files)

  private def commitReplace(
      table: String,
      base: Option[Long],
      files: Seq[GraftCatalog.AddedFile]): Long =
    commit(table, base)((_, seq) => addedDataEntries(table, files, seq))

  /** [[commitReplaceAt]] restricted to a SUBSET of data files — the
    * commit shape of a group-FILTERED copy-on-write `ReplaceData`
    * (runtime group filtering found the files containing matching rows;
    * only they were read, only they are replaced). Delete entries stay:
    * pos/eq-deletes still suppress rows of the UNTOUCHED files, and ones
    * referencing replaced files dangle harmlessly (their (file, pos)
    * pairs match nothing) until delete-file compaction drops them.
    */
  def commitReplaceFilesAt(
      table: String,
      expectedHead: Long,
      replacedDataFiles: Set[String],
      files: Seq[GraftCatalog.AddedFile]): Long =
    commit(table, Some(expectedHead)) { (entries, seq) =>
      val canon = replacedDataFiles.map(CompactionRunner.canonPath)
      val victims = entries.filter(e =>
        e.kind == "data" && canon(CompactionRunner.canonPath(e.path)))
      require(victims.size == canon.size,
        s"group-filtered replace names ${canon.size} data files but only " +
          s"${victims.size} are entries of $table's current snapshot")
      without(entries, victims.map(_.path)) ++
        addedDataEntries(table, files, seq)
    }

  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    * retire exactly the data files whose partition tuple matches one the
    * written files carry, land the written files, ONE base-asserted
    * commit. Iceberg's `ReplacePartitions`. Pre-spec files (no recorded
    * tuple) are never matched — like Iceberg across a spec change, they
    * belong to no addressable partition and survive untouched; delete
    * entries stay pending (they still suppress rows of untouched files;
    * pairs referencing retired files dangle harmlessly).
    */
  def commitDynamicOverwrite(
      table: String,
      expectedHead: Long,
      files: Seq[GraftCatalog.AddedFile]): Long =
    commit(table, Some(expectedHead)) { (entries, seq) =>
      val spec = partitionSpec(table)
      require(spec.nonEmpty,
        s"dynamic partition overwrite needs a partition spec on $table")
      val names = spec.map(_.name)
      val added = addedDataEntries(table, files, seq)
      val partial = added.filterNot(a => names.forall(a.partitionVals.contains))
      require(partial.isEmpty,
        s"dynamic overwrite files must carry full partition tuples " +
          s"(${names.mkString(", ")}); missing on: " +
          partial.map(_.path).take(3).mkString(", "))
      val written = added.map(a => names.map(a.partitionVals(_))).toSet
      // Victims must match the CURRENT spec's transform|source binding per
      // field, not just the field names/values: after spec evolution that
      // keeps a name (bucket[4] -> bucket[8], same k_bucket), an old-spec
      // file's tuple string can collide with a written tuple while holding
      // rows of OTHER new-spec partitions — retiring it would lose data.
      // Iceberg's ReplacePartitions is per-spec for the same reason.
      val bindings = spec.map(f => f.name -> s"${f.transform}|${f.source}").toMap
      val victims = entries.filter(e => e.kind == "data" &&
        names.forall(e.partitionVals.contains) &&
        names.forall(n => e.partitionTransforms.get(n).contains(bindings(n))) &&
        written.contains(names.map(e.partitionVals(_))))
      without(entries, victims.map(_.path)) ++ added
    }

  /** [[commitAppendAt]] WITHOUT a base assertion — the commit shape for a
    * caller that asserted nothing (Iceberg-REST: an empty `requirements`
    * list means no validation): the append lands at whatever head holds
    * under the lock, never a conflict. Appends are order-independent, so
    * an unconditioned one has nothing to validate.
    */
  def commitAppend(
      table: String, files: Seq[GraftCatalog.AddedFile]): Long =
    commitAppendFiles(table, None, files)

  /** Added data files → snapshot entries, recovering each file's partition
    * tuple from its Hive-layout path segments when the table declares a
    * partition spec (the fanout writers — compaction's AND the DSv2
    * doorway's — encode exactly the transform values there). The recorded
    * `transform|source` binding is the CURRENT spec's, flattened per file,
    * so pruning survives later spec evolution. Files without recognizable
    * segments commit tuple-less and are simply never partition-pruned
    * (conservative, like every other pruning gap).
    */
  private def addedDataEntries(
      table: String,
      files: Seq[GraftCatalog.AddedFile],
      seq: Long): Seq[TableEntry] = {
    val spec = partitionSpec(table)
    val names = spec.map(_.name)
    val specTransforms = spec.map(f => f.name -> s"${f.transform}|${f.source}").toMap
    files.map { f =>
      val vals = partitionValsFromPath(f.path, names)
      TableEntry("data", CompactionRunner.canonPath(f.path), seq, f.format, Nil,
        stats =
          if (f.colMins.isEmpty && f.colMaxs.isEmpty && f.nullCounts.isEmpty) None
          else Some(EntryStats(f.colMins, f.colMaxs, f.nullCounts)),
        partitionVals = vals,
        partitionTransforms = specTransforms.view.filterKeys(vals.contains).toMap,
        recordCount = f.recordCount, sizeBytes = f.sizeBytes)
    }
  }

  private def commitAppendFiles(
      table: String,
      expectedHead: Option[Long],
      files: Seq[GraftCatalog.AddedFile]): Long =
    commit(table, expectedHead) { (entries, seq) =>
      require(files.nonEmpty, "commit adds no files")
      entries ++ addedDataEntries(table, files, seq)
    }

  /** Iceberg-style metadata tables — the table ABOUT the table, served
    * entirely from snapshot documents (no data file is opened). The same
    * inspection surface Iceberg exposes as `db.table.files` /
    * `.snapshots` / `.history` / `.partitions`; the reference's planning
    * RPC ships exactly these rows over the wire (`iceberg.proto:183-205`,
    * `DataFile.record_count`/`file_size_in_bytes`).
    *
    * Kinds:
    *  - `files`: one row per entry in the CURRENT snapshot — content kind,
    *    path, format, sequence number, record count / size (null when the
    *    committing path didn't count them), the partition tuple.
    *  - `partitions`: data-file rows grouped by partition tuple with file /
    *    record / byte totals. Record counts are data-file counts BEFORE
    *    delete application (Iceberg semantics — pending pos/eq deletes
    *    suppress rows at read time, not in the manifest).
    *  - `snapshots`: one row per retained snapshot, with per-kind file
    *    counts and total records.
    *  - `history`: the retained snapshot chain with the current flag — the
    *    rollback/time-travel picker.
    *
    * Cardinality = file count (files/partitions) or snapshot count — the
    * same driver-side metadata [[loadEntries]] already materializes;
    * returned as a DataFrame so the inspection queries compose with the
    * rest of the engine (and stay small enough to broadcast into joins
    * against data).
    */
  def metadataTable(spark: SparkSession, table: String, kind: String): DataFrame = {
    import spark.implicits._
    def opt(v: Long): Option[Long] = if (v < 0) None else Some(v)
    kind match {
      case "files" =>
        loadEntries(table).map(e =>
          (e.kind, e.path, e.format, e.seqNum, opt(e.recordCount),
            opt(e.sizeBytes), e.partitionVals))
          .toDF("content", "file_path", "file_format", "seq_num",
            "record_count", "size_bytes", "partition")
      case "partitions" =>
        loadEntries(table).filter(_.kind == "data")
          .groupBy(_.partitionVals).toSeq.map { case (pvals, es) =>
            // null totals when ANY member file is uncounted — a partial sum
            // presented as the total would be silently wrong
            val rc = if (es.exists(_.recordCount < 0)) None
                     else Some(es.map(_.recordCount).sum)
            val bytes = if (es.exists(_.sizeBytes < 0)) None
                        else Some(es.map(_.sizeBytes).sum)
            (pvals, es.size.toLong, rc, bytes)
          }.toDF("partition", "file_count", "record_count", "size_bytes")
      case "snapshots" =>
        snapshotIds(table).map { id =>
          val es = readSnapshot(table, id)
          val sum = snapshotSummary(table, id)
          (id, es.count(_.kind == "data").toLong,
            es.count(_.kind != "data").toLong,
            if (es.exists(e => e.kind == "data" && e.recordCount < 0)) None
            else Some(es.collect { case e if e.kind == "data" => e.recordCount }.sum),
            id == currentSnapshotId(table),
            // the commit summary (Iceberg's `summary` map): operation +
            // file deltas vs the predecessor; nulls when the predecessor
            // was expired and the delta is no longer derivable
            sum.map(_.operation), sum.map(_.addedDataFiles),
            sum.map(_.removedDataFiles), sum.map(_.addedDeleteFiles),
            sum.flatMap(_.addedRecords))
        }.toDF("snapshot_id", "data_files", "delete_files", "total_records",
          "is_current", "operation", "added_data_files", "removed_data_files",
          "added_delete_files", "added_records")
      case "history" =>
        val head = currentSnapshotId(table)
        snapshotIds(table).map(id => (id, id == head))
          .toDF("snapshot_id", "is_current")
      case "refs" =>
        // Iceberg's `refs` metadata table: named references — the main
        // branch (the head), every tag (immutable pinned snapshot), and
        // every WAP branch fork (its own head; the fork reads/writes as
        // `table@branch` until published)
        val main = Seq(("main", "BRANCH", currentSnapshotId(table)))
        val tagRows = tags(table).toSeq.sorted
          .map { case (n, sid) => (n, "TAG", sid) }
        val branchRows = tables().filter(_.startsWith(s"$table@")).sorted
          .map(f => (f.drop(table.length + 1), "BRANCH", currentSnapshotId(f)))
        (main ++ tagRows ++ branchRows)
          .toDF("name", "type", "snapshot_id")
      case "tables" =>
        // catalog-LEVEL listing (the REST /tables route's SQL twin): the
        // row set spans the whole catalog, one row per table with its head
        // and per-kind file counts. Reachable only through graft_tables —
        // a per-table graft_meta call naming a table would silently ignore
        // it and return catalog-wide rows, so that shape is rejected.
        require(table.isEmpty,
          "the catalog-level listing is addressed as graft_tables(root), " +
            s"not as a metadata table of '$table'")
        tables().sorted.map { t =>
          val es = loadEntries(t)
          (t, currentSnapshotId(t),
            es.count(_.kind == "data").toLong,
            es.count(_.kind != "data").toLong)
        }.toDF("table_name", "current_snapshot_id", "data_files", "delete_files")
      case "statistics" =>
        // the statistics-lifecycle inspection surface: every recorded
        // pointer of both kinds, plus the LIVE ones' staleness — what an
        // operator checks before trusting an estimate or scheduling a
        // re-analyze. Metadata-only (pointer files + one churn diff).
        val head = currentSnapshotId(table)
        val churn = statsChurn(table)
        def rows(partition: Boolean) = {
          // ONE live-pointer lookup per kind (newestPointer lists the
          // table dir), not one per recorded row
          val live = (if (partition) partitionStatistics(table)
                      else tableStatistics(table)).map(_.path)
          statisticsFiles(table, partition).map { ref =>
            (if (partition) "partition" else "column",
              ref.snapshotId, ref.path, opt(ref.fileSizeInBytes),
              live.contains(ref.path),
              // staleness is a property of the LIVE pointer: column
              // sketches stale per the theta rule (statsChurn — removed
              // rows only), the partition rollup on ANY entry movement
              // (its counts shift on adds too)
              if (!live.contains(ref.path)) None
              else if (partition) Some(ref.snapshotId != head)
              else Some(churn.exists(_.stale)),
              if (live.contains(ref.path) && !partition)
                churn.map(c => c.addedDataFiles.toLong) else None)
          }
        }
        (rows(partition = false) ++ rows(partition = true))
          .toDF("type", "snapshot_id", "path", "file_size", "is_current",
            "stale", "files_behind")
          .withColumn("head_snapshot_id",
            org.apache.spark.sql.functions.lit(head))
      case other =>
        throw GraftError.Metadata(
          s"unknown metadata table '$other' (files|partitions|snapshots|" +
            "history|refs|statistics; the catalog-wide 'tables' listing " +
            "is graft_tables(root))")
    }
  }

  /** `COUNT(*)` answered from metadata when provably exact — every data
    * file carries a record count and no delete file is pending (pending
    * pos/eq deletes suppress an unknown number of rows at read time, so
    * the manifest sum would overcount). At 100 TB this is the difference
    * between a driver-side sum over the file list and a full scan; the
    * q125 integrity gate is what makes trusting the metadata sound. Falls
    * back to the real MoR scan count otherwise — callers always get the
    * exact answer, only the cost differs.
    */
  def countRows(spark: SparkSession, table: String): Long = {
    val entries = loadEntries(table)
    val data = entries.filter(_.kind == "data")
    if (data.isEmpty) 0L
    else if (entries.forall(_.kind == "data") && data.forall(_.recordCount >= 0))
      data.map(_.recordCount).sum
    else scanTable(spark, table).count()
  }

  /** Metadata-only MIN/MAX over an integer column — the manifest-bounds
    * sibling of [[countRows]]: when every data file in the snapshot
    * records long-parseable bounds for `column` and no delete file is
    * pending, the answer is the fold of the per-file bounds with no data
    * file opened. Anything less provable falls back to the MoR scan, so
    * callers always get the exact answer at the cheapest price.
    *
    * The exactness conditions, each load-bearing:
    *  - a pending pos/eq delete may suppress exactly the extreme row, so
    *    stats could only over-extend the range;
    *  - a data file with NO recorded bounds for the column forces the
    *    fallback even when all others have them — at this layer a
    *    stats-less file (unknown values) and an all-null file (which
    *    contributes nothing to MIN/MAX) are indistinguishable;
    *  - SQL MIN/MAX ignore NULLs, and recorded bounds cover non-null
    *    values only, so null counts play no part (unlike [[countRows]]).
    *
    * Returns None for a table with no data files (SQL's NULL aggregate).
    */
  def minMaxLong(
      spark: SparkSession, table: String, column: String): Option[(Long, Long)] = {
    val entries = loadEntries(table)
    val data = entries.filter(_.kind == "data")
    if (data.isEmpty) None
    else {
      val bounds: Seq[Option[(Long, Long)]] = data.map(e =>
        e.stats.flatMap(s =>
          (s.colMins.get(column), s.colMaxs.get(column)) match {
            case (Some(mn), Some(mx)) =>
              try Some((mn.toLong, mx.toLong))
              catch { case _: NumberFormatException => None }
            case _ => None
          }))
      if (entries.forall(_.kind == "data") && bounds.forall(_.isDefined)) {
        val bs = bounds.flatten
        Some((bs.map(_._1).min, bs.map(_._2).max))
      } else {
        import org.apache.spark.sql.functions.{min, max, col}
        val row = scanTable(spark, table)
          .agg(min(col(column)).cast("long"), max(col(column)).cast("long"))
          .head()
        if (row.isNullAt(0)) None else Some((row.getLong(0), row.getLong(1)))
      }
    }
  }

  /** Commit a rewrite: current entries minus removed plus added → new
    * snapshot, advance HEAD (the `Transaction::rewrite_files` + `commit`
    * pair, `compaction/mod.rs:66-72`). Removal matches data AND delete
    * entries by path, so a compaction that applied pending deletes retires
    * the delete files in the same commit.
    */
  def commitRewrite(
      table: String,
      added: Seq[DataFileTask],
      removedPaths: Seq[String]): Long =
    commit(table)((entries, _) => without(entries, removedPaths) ++ added.map(toEntry))

  /** `entries` minus every entry whose path is in `removedPaths` — data
    * AND delete entries. Both sides are canonicalized: entries may hold
    * canonical file:/// paths (from _metadata) while removals arrive as
    * bare filesystem paths — a one-sided match would silently keep a
    * retired file in the snapshot.
    */
  private def without(
      entries: Seq[TableEntry], removedPaths: Seq[String]): Seq[TableEntry] = {
    val removed = removedPaths.flatMap(p =>
      Seq(p, CompactionRunner.canonPath(p))).toSet
    entries.filterNot(e =>
      removed(CompactionRunner.canonPath(e.path)) || removed(e.path))
  }

  // ---- write-audit-publish forks (Iceberg's WAP workflow) ----------------

  private def forkBasePath(table: String) = tableDir(table).resolve("FORK_BASE")

  /** The (main table, main snapshot id) a fork was created from; None when
    * `table` is not a fork. The deferred `spark.wap.branch` row-level
    * commit asserts this against the snapshot its scan pinned — a fork
    * raced into existence from a LATER main head must conflict, not
    * silently adopt a replacement computed from older data.
    */
  def forkBaseOf(table: String): Option[(String, Long)] = {
    val bp = forkBasePath(table)
    if (!Files.exists(bp)) None
    else Files.readString(bp).trim.split("\t", 2) match {
      case Array(t, b) => b.toLongOption.map(t -> _)
      case _ => None
    }
  }

  // temp + ATOMIC_MOVE like every other pointer file (HEAD, pspec,
  // snapshots): a torn FORK_BASE would turn publishFork into a MatchError
  private def writeForkBase(fork: String, table: String, baseId: Long): Unit = {
    val tmp = tableDir(fork).resolve(
      s".FORK_BASE.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, s"$table\t$baseId",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, forkBasePath(fork),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Fork `table` into the catalog table `<table>@<branch>` — the
    * write-audit-publish (WAP) staging area: the fork starts as a METADATA
    * copy of main's current snapshot (file lists, schema, partition spec —
    * no data IO), takes every normal write (`upsert`, `deleteWhere`,
    * `compactTable`, …) and every normal read (`scanTable` = the audit),
    * and never disturbs main. [[publishFork]] atomically adopts the
    * fork's state as main's next snapshot — or refuses if main moved.
    *
    * Returns the fork's table name. Lock order is always main → fork, so
    * fork creation cannot deadlock with a concurrent publish.
    */
  def forkTable(table: String, branch: String): String = withTableLock(table) {
    require(branch.nonEmpty && !branch.exists("@\t\n/".contains(_)),
      s"invalid branch name '$branch'")
    require(!table.contains("@"), s"cannot fork a fork: $table")
    val fork = s"$table@$branch"
    require(!headExists(fork), s"fork $fork already exists")
    val baseId = currentSnapshotId(table)
    val entries = loadEntries(table)
    val init = GraftCatalog.ForkInitialSnapshotId
    withTableLock(fork) {
      writeSnapshot(fork, init, entries)
      schemaAt(table, baseId).foreach(s => writeSchema(fork, init, s))
      writeTableUuid(fork)
      createHead(fork, init)
      writeForkBase(fork, table, baseId)
    }
    // separate acquisition (the table lock is non-reentrant); still under
    // the MAIN lock, so the spec copied is the one the entries came from
    val spec = partitionSpec(table)
    if (spec.nonEmpty) setPartitionSpec(fork, spec)
    val props = tableProperties(table)
    if (props.nonEmpty) updateTableProperties(fork, props)
    val so = sortOrder(table)
    if (so.nonEmpty) setSortOrder(fork, so)
    fork
  }

  /** Publish a fork: commit its CURRENT state as main's next snapshot, in
    * one atomic head advance — the "publish" of WAP. Optimistic: if main
    * advanced past the fork's base, the publish fails with a typed
    * conflict (the auditor validated the fork AGAINST that base; silently
    * merging over a moved main would publish unaudited state). Re-fork
    * from the new head and re-apply on conflict.
    *
    * The fork's metadata remains (re-publishable, inspectable); drop it
    * with [[dropFork]] when done.
    */
  def publishFork(fork: String): Long = {
    val bp = forkBasePath(fork)
    require(Files.exists(bp), s"$fork is not a fork (no FORK_BASE)")
    val Array(table, baseStr) = Files.readString(bp).trim.split("\t", 2)
    val baseId = baseStr.toLong
    withTableLock(table) {
      val mainHead = currentSnapshotId(table)
      if (mainHead != baseId)
        throw GraftError.Metadata(
          s"publish conflict on $fork: $table advanced $baseId -> $mainHead " +
            "since the fork; the audit validated stale state — re-fork from " +
            "the new head, re-apply, re-audit, re-publish")
      // ONE pinned fork head for BOTH reads: entries and schema read in
      // two separate head loads would let a commit landing on the fork
      // mid-publish pair snapshot-N's file list with snapshot-N+1's
      // schema on main (e.g. a rename whose stats-strip never applied to
      // the published entries)
      val forkHead = currentSnapshotId(fork)
      val nextId = commitLocked(table, Some(baseId),
        schema = carried => schemaAt(fork, forkHead).orElse(carried)) {
        (_, _) => readSnapshot(fork, forkHead)
      }
      // re-base the fork onto its own publish: further audited commits on
      // the fork stay publishable (the conflict check still fires the
      // moment anyone ELSE moves main)
      writeForkBase(fork, table, nextId)
      nextId
    }
  }

  /** Remove a fork's METADATA directory. Data files are never touched —
    * pre-fork files belong to main, and files the fork's own commits wrote
    * live in caller-owned output directories ([[removeOrphanFiles]] on
    * main is the reclamation path for published-then-rewritten outputs).
    */
  def dropFork(fork: String): Unit = {
    require(Files.exists(forkBasePath(fork)), s"$fork is not a fork")
    withTableLock(fork) {
      val dir = tableDir(fork)
      val stream = Files.list(dir)
      val files = try stream.iterator().asScala.toSeq finally stream.close()
      files.foreach(Files.deleteIfExists)
    }
    // the directory itself can only go after the lock releases (the lock
    // file lives inside it); a concurrent lock acquisition may recreate
    // .lock in that window — best-effort: a leftover headless directory is
    // invisible (tables() requires a head) and harmless
    try {
      Files.deleteIfExists(tableDir(fork).resolve(".lock"))
      Files.deleteIfExists(tableDir(fork))
    } catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  /** DROP a table: remove its METADATA (snapshot documents, segments,
    * schemas, refs, sidecars, head pointer). Data files are NEVER touched
    * — Iceberg's drop-without-purge: committed files may be shared
    * (pre-fork generations, external writers holding paths), so
    * reclamation is a separate ownership decision, not a side effect of
    * unregistering a name. Refuses while live forks exist: their
    * FORK_BASE names this table, and a later publish would fail far from
    * the cause. Fork names themselves go through [[dropFork]].
    *
    * Store-backed catalogs deregister the pointer FIRST (the authoritative
    * existence bit — concurrent drivers stop committing immediately), then
    * delete the metadata directory; a crash between the two leaves
    * headless files that [[tables]] never lists, and a re-run converges
    * ([[HeadStore.remove]] is a no-op on a missing pointer).
    */
  def dropTable(table: String): Unit = {
    require(!table.contains("@"), s"$table is a fork — use dropFork")
    require(headExists(table), s"table $table does not exist")
    val forks = tables().filter(_.startsWith(s"$table@"))
    require(forks.isEmpty,
      s"drop of $table blocked by live forks: ${forks.mkString(", ")} " +
        "(publish or dropFork them first)")
    withTableLock(table) {
      headStore.foreach(_.remove(table))
      val dir = tableDir(table)
      // HEAD first (the existence bit: a racer sees the table gone before
      // any other file disappears), then the rest — EXCEPT the lock file:
      // unlinking `.lock` while this lock is held would let a second
      // process create a fresh lock inode and acquire it mid-drop,
      // interleaving commits with the deletion (a resurrected table whose
      // HEAD points at already-deleted documents)
      Files.deleteIfExists(headPath(table))
      val stream = Files.list(dir)
      val files = try stream.iterator().asScala.toSeq finally stream.close()
      files.filterNot(_.getFileName.toString == ".lock")
        .foreach(Files.deleteIfExists)
    }
    // lock file + directory last, outside the lock (the lock file lives
    // inside it); a leftover headless directory is invisible and harmless
    // — same discipline as dropFork
    try {
      Files.deleteIfExists(tableDir(table).resolve(".lock"))
      Files.deleteIfExists(tableDir(table))
    } catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  /** RENAME a table: re-register the same metadata under a new name. The
    * snapshot documents are small immutable files, so rename = copy them
    * into the new directory, register the new head at the same snapshot
    * id, then unregister and delete the old name — data files untouched
    * (entries carry absolute paths; segment references are
    * directory-relative and copy with their documents). NOT atomic across
    * the two names (the filesystem has no two-directory transaction;
    * Iceberg's `SqlCatalog` does this as one row update): during the
    * switch the table is briefly visible under BOTH names, never under
    * neither. A crash after the new head registers leaves both live —
    * finish with [[dropTable]] on the old name (the copy is
    * self-contained). Locks are taken in name order, so concurrent
    * `a→b` / `b→a` renames cannot deadlock; forks and fork parents are
    * refused like [[dropTable]].
    */
  def renameTable(from: String, to: String): Unit = {
    require(!from.contains("@"), s"$from is a fork — forks are not renamed")
    require(to.nonEmpty, s"invalid table name '$to'")
    validateSegments("table", to)
    // a namespaced destination must land in an EXISTING namespace (same
    // no-implicit-namespaces rule as createTable)
    if (to.contains("/"))
      require(namespaceExists(to.substring(0, to.lastIndexOf('/'))),
        s"namespace ${to.substring(0, to.lastIndexOf('/'))} does not exist")
    require(!namespaceExists(to), s"$to is a namespace, not a table")
    require(from != to, "rename to the same name")
    require(headExists(from), s"table $from does not exist")
    require(!headExists(to), s"table $to already exists")
    val forks = tables().filter(_.startsWith(s"$from@"))
    require(forks.isEmpty,
      s"rename of $from blocked by live forks: ${forks.mkString(", ")}")
    def body(): Unit = {
      // re-checked under BOTH locks: a destination table created between
      // the lock-free precondition above and the lock acquisition must
      // refuse here — the REPLACE_EXISTING copies below would otherwise
      // silently clobber its head and documents (lost table, no error)
      require(!headExists(to), s"table $to already exists")
      val head = currentSnapshotId(from)
      val toDir = tableDir(to)
      Files.createDirectories(toDir)
      val stream = Files.list(tableDir(from))
      val files = try stream.iterator().asScala.toSeq finally stream.close()
      // copy documents FIRST, head registration last: a lock-free reader
      // must never see `to`'s existence bit before the documents it
      // points at (Files.list order is arbitrary, so HEAD is excluded
      // from the bulk copy and written by createHead at the end)
      val docs = files.filterNot(f =>
        Set(".lock", "HEAD")(f.getFileName.toString))
      docs.foreach(f => Files.copy(f, toDir.resolve(f.getFileName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      createHead(to, head)
      // old name last: existence bit first, then its documents
      headStore.foreach(_.remove(from))
      Files.deleteIfExists(tableDir(from).resolve("HEAD"))
      docs.foreach(Files.deleteIfExists)
    }
    val (first, second) = if (from < to) (from, to) else (to, from)
    withTableLock(first) { withTableLock(second) { body() } }
    try {
      Files.deleteIfExists(tableDir(from).resolve(".lock"))
      Files.deleteIfExists(tableDir(from))
    } catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  // ---- table properties (Iceberg's key/value metadata) -------------------

  private def propsPath(table: String) = tableDir(table).resolve("props.tsv")

  /** The table's key/value properties (Iceberg's `properties` map — write
    * knobs, ownership annotations, UI hints; advisory metadata, never
    * consulted implicitly by the engine). Empty when none set.
    */
  def tableProperties(table: String): Map[String, String] = {
    val p = propsPath(table)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).split("\n").filter(_.nonEmpty).map { line =>
      val Array(k, v) = line.split("\t", 2)
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  /** Merge `updates` into the table's properties and drop `removals` —
    * one atomic sidecar replace under the table lock (last writer wins
    * per key, like Iceberg's `updateProperties` commit). A key in both
    * sets is removed (removal is the later intent).
    */
  def updateTableProperties(
      table: String,
      updates: Map[String, String],
      removals: Set[String] = Set.empty,
      expectedHead: Option[Long] = None): Unit = withTableLock(table) {
    require(headExists(table), s"table $table does not exist")
    assertBase(table, expectedHead, currentSnapshotId(table))
    writePropsFile(table, (tableProperties(table) ++ updates) -- removals)
  }

  /** The property-file write itself, caller already holding the table
    * lock — [[importTable]] writes the adopted foreign properties before
    * the head exists.
    */
  private def writePropsFile(table: String, props: Map[String, String]): Unit = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val tmp = tableDir(table).resolve(
      s".props.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp,
      props.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
        .mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, propsPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- declared sort order (Iceberg's table write order) -----------------

  private def sortOrderPath(table: String) =
    tableDir(table).resolve("sortorder.tsv")

  /** The table's declared sort order (Iceberg's `write-order`): the
    * clustering intent maintenance compactions apply when the caller
    * doesn't choose a layout. Empty when none declared.
    */
  def sortOrder(table: String): Seq[String] = {
    val p = sortOrderPath(table)
    if (!Files.exists(p)) Nil
    else Files.readString(p).split("\n").filter(_.nonEmpty).toSeq
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
  }

  /** Declare (or clear, with Nil) the table's sort order. Metadata only —
    * existing files keep their layout until the next rewrite applies it.
    */
  def setSortOrder(table: String, cols: Seq[String]): Unit =
    withTableLock(table) {
      require(headExists(table), s"table $table does not exist")
      require(cols.distinct.size == cols.size, s"duplicate sort columns: $cols")
      if (cols.isEmpty) { Files.deleteIfExists(sortOrderPath(table)); () }
      else {
        val tmp = tableDir(table).resolve(
          s".sortorder.tmp-${Thread.currentThread().getId}")
        Files.writeString(tmp,
          cols.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("\n"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        Files.move(tmp, sortOrderPath(table),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  // ---- named snapshot refs (Iceberg tags: immutable named pointers) ------

  private def refsPath(table: String) = tableDir(table).resolve("refs.tsv")

  private def readRefs(table: String): Map[String, Long] = {
    val p = refsPath(table)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).split("\n").filter(_.nonEmpty).map { line =>
      val Array(name, id) = line.split("\t", 2)
      name -> id.toLong
    }.toMap
  }

  private def writeRefs(table: String, refs: Map[String, Long]): Unit = {
    val tmp = tableDir(table).resolve(s".refs.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp,
      refs.toSeq.sortBy(_._1).map { case (n, id) => s"$n\t$id" }.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, refsPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Tag a retained snapshot with an immutable name (Iceberg's tags — the
    * audit/publish handles: `prod-2024-01-01`, `validated`). Tagged
    * snapshots survive [[expireSnapshots]] until the tag is dropped.
    */
  def tagSnapshot(table: String, tag: String, snapshotId: Long): Unit =
    withTableLock(table) {
      require(tag.nonEmpty && !tag.contains("\t") && !tag.contains("\n"),
        s"invalid tag name '$tag'")
      // 'main' is the reserved branch name every rendering of refs leads
      // with — a tag by the same name would produce a duplicate JSON key
      // in the REST refs object, with parser-dependent winners
      require(tag != "main", "'main' is the reserved branch name")
      require(snapshotIds(table).contains(snapshotId),
        s"snapshot $snapshotId of $table does not exist; retained: " +
          snapshotIds(table).mkString(", "))
      val refs = readRefs(table)
      require(!refs.contains(tag),
        s"tag '$tag' already points at snapshot ${refs(tag)} (tags are " +
          "immutable; drop it first)")
      writeRefs(table, refs + (tag -> snapshotId))
    }

  def tags(table: String): Map[String, Long] = readRefs(table)

  def dropTag(table: String, tag: String): Unit = withTableLock(table) {
    val refs = readRefs(table)
    require(refs.contains(tag), s"no tag '$tag' on $table")
    writeRefs(table, refs - tag)
  }

  /** Resolve a tag to its pinned snapshot id, loudly when absent. */
  def snapshotIdOfTag(table: String, tag: String): Long = {
    val refs = readRefs(table)
    require(refs.contains(tag),
      s"no tag '$tag' on $table; tags: ${refs.keys.toSeq.sorted.mkString(", ")}")
    refs(tag)
  }

  /** Time travel by tag — `VERSION AS OF 'prod-2024-01-01'`. */
  def loadTableAtTag(table: String, tag: String): Seq[DataFileTask] =
    loadTableAt(table, snapshotIdOfTag(table, tag))

  /** EP3 companion action: DELETE the orphans [[orphanFiles]] detects, with
    * the safety rail every production remove-orphans job has — an age grace
    * period. A file can look orphaned while being mid-write by an
    * in-flight commit (written BEFORE the snapshot that will reference it
    * exists — upsert/deleteWhere write outside the table lock by design),
    * so only files older than `olderThanMillis` are eligible; recent
    * "orphans" are presumed in-flight and skipped. Re-checks liveness under
    * the table lock immediately before deleting (the candidate listing may
    * predate a commit that adopted a file). Returns the deleted paths.
    */
  def removeOrphanFiles(
      table: String,
      candidates: Seq[String],
      olderThanMillis: Long = 24L * 3600 * 1000): Seq[String] = withTableLock(table) {
    require(olderThanMillis >= 0, "grace period must be non-negative")
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // scheme-aware IO (the data files may live on s3a/hdfs even though the
    // catalog metadata is local) — java.io.File would silently "delete"
    // nothing for any non-local candidate
    val conf = new org.apache.hadoop.conf.Configuration()
    orphanFiles(table, candidates).filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      // missing files (raced with another cleaner) are simply not "deleted
      // by us"; never delete on an unreadable mtime
      try fs.exists(hp) &&
        fs.getFileStatus(hp).getModificationTime < cutoff &&
        fs.delete(hp, false)
      catch { case _: java.io.IOException => false }
    }
  }

  /** EP3: drop all snapshots but the most recent `keepLast` (HEAD's snapshot
    * is always kept).
    */
  def expireSnapshots(table: String, keepLast: Int): Seq[Long] = withTableLock(table) {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val ids = snapshotIds(table)
    val head = currentSnapshotId(table)
    val tagged = readRefs(table).values.toSet // tagged snapshots never expire
    val expire = ids.filterNot(id => id == head || tagged(id))
      .sorted.dropRight(keepLast - 1)
    expire.foreach { id =>
      Files.delete(snapPath(table, id))
      Files.deleteIfExists(schemaPath(table, id))
      // an expired snapshot's statistics pointers go with it (the Puffin /
      // partition-stats FILES too, when catalog-local — an imported
      // pointer's foreign file stays, by-reference like data files);
      // stale-stats serving only ever reads RETAINED pointers
      Seq(statsPointerPath(table, id), pstatsPointerPath(table, id))
        .foreach { pp =>
          readStatsPointer(pp).foreach { ref =>
            GraftCatalog.statsFooterCache.remove(ref.path)
            val local = tableDir(table).resolve(
              java.nio.file.Paths.get(ref.path).getFileName.toString)
            if (local.toString == ref.path) Files.deleteIfExists(local)
          }
          Files.deleteIfExists(pp)
        }
    }
    // segment GC: entry segments are shared across the snapshot chain by
    // reference, so they outlive individual documents — reclaim the ones no
    // RETAINED document references anymore. Runs under the table lock, so
    // no same-host commit can be mid-install; a reader holding parsed
    // entries is unaffected (the parse cache never re-reads), and a
    // snapshot document on disk always wins over GC because referenced =
    // union over every remaining document, including unreferenced
    // crashed-commit documents.
    val referenced = snapshotIds(table).flatMap(segRefsOf(table, _)).map(_.name).toSet
    val stream = Files.list(tableDir(table))
    val segs = try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("seg-") && n.endsWith(".tsv")).toSeq
      finally stream.close()
    segs.filterNot(referenced).foreach(n =>
      Files.deleteIfExists(tableDir(table).resolve(n)))
    expire
  }

  /** EP1 against the catalog: load (data + pending deletes) → full MoR
    * compact → commit → new snapshot id. The commit retires the applied
    * delete files along with the rewritten data files.
    *
    * Runs entirely under the table lock: compaction must commit against the
    * exact snapshot it compacted, or a concurrent upsert landing in between
    * gets the same sequence number as the rewritten files and its
    * eq-deletes silently stop applying (strict `<` guard) — stale rows
    * resurrect. Compaction is a rare maintenance op; serializing it with
    * commits on the same table is the honest pessimistic equivalent of
    * Iceberg's validate-and-retry optimistic commit.
    */
  /** Iceberg's `rewrite_position_delete_files`: merge the table's
    * accumulated position-delete files into few, dropping rows that
    * DANGLE (their target data file has left the snapshot — e.g. an
    * external rewrite replaced the data file without rewriting deletes;
    * dangling rows match nothing but every MoR scan still reads them).
    * Data files are untouched — this is the cheap maintenance op between
    * full compactions: each row-level DELETE commit adds ≥1 small delete
    * file, and scans pay one file-open per delete file forever until
    * either a full rewrite (expensive, rewrites DATA) or this (reads and
    * rewrites only the delete rows).
    *
    * One distributed pass: union the delete files, keep rows whose target
    * path is still a live data file (semi join against the snapshot's
    * path list — driver-sized metadata, broadcast), distinct, write
    * `targetFiles` outputs, commit as a rewrite (old posdel entries out,
    * compacted ones in at the max original sequence number; pos-deletes
    * bind by FILE IDENTITY, so merging across commits is sound — unlike
    * eq-deletes, whose strict seq guard forbids cross-seq merging and
    * which this op deliberately leaves alone).
    *
    * The write runs outside the table lock; the commit re-reads entries
    * under it and removes exactly the delete files read, so delete
    * commits racing in keep their (new) files. Old files stay on disk for
    * [[removeOrphanFiles]]. No-op (current head returned) when the table
    * has fewer than two position-delete files and nothing would shrink.
    */
  /** Equality-delete → position-delete conversion (Iceberg's
    * `rewrite_position_delete_files` sibling for eq-deletes, the
    * `convert-equality-deletes` maintenance step): ONE scan of the
    * affected data files finds every row each eq-delete group would
    * suppress (same equi keys + `data.seq < delete.seq` guard the MoR read
    * applies, [[graft.operators.MorPlanner.applyEqualityDeletes]]), emits
    * those rows' (file_path, pos) pairs as position-delete files at the
    * eq-deletes' max sequence, and retires the eq-delete entries — data
    * files untouched.
    *
    * Why it matters at scale: every MoR read pays the eq-delete join
    * against EVERY older data row until a full compaction retires the
    * deletes; this conversion is the cheap intermediate step (scan the
    * affected files once, write a few KB of pos-deletes) that bounds read
    * amplification between compactions — pos-delete application is a
    * (file_path, pos) hash anti join with a broadcastable build side.
    * Exactness: pos-deletes apply seq-independently, and only rows with
    * `seq < eqSeq` can match, so data appended after the eq-delete commit
    * is untouched before AND after; the scan-visible row set is identical.
    *
    * With `asDeletionVectors = true` the doomed `(file_path, pos)` pairs
    * land directly as Iceberg-v3 Puffin deletion vectors (the distributed
    * per-file writer, [[writeDvEntries]]) instead of parquet pos-delete
    * rows — eq→DV in ONE commit, skipping the intermediate parquet
    * generation a separate `rewrite_position_delete_files` migration
    * would rewrite again.
    */
  def rewriteEqDeletes(
      spark: SparkSession,
      table: String,
      outDir: String,
      targetFiles: Int = 1,
      asDeletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    import graft.operators.MorPlanner
    val entries = loadEntries(table)
    val eqs = entries.filter(_.kind == "eqdel")
    if (eqs.isEmpty) return currentSnapshotId(table)
    val maxEqSeq = eqs.map(_.seqNum).max
    val affected = entries.filter(e => e.kind == "data" && e.seqNum < maxEqSeq)
    val eqPaths = eqs.map(_.path)
    if (affected.isEmpty)
      // nothing the deletes can hit — retire them outright
      return commit(table)((current, _) => without(current, eqPaths))
    val schema = currentSchema(table)
    val scan = CompactionRunner.scanWithHiddenCols(spark,
      affected.map(e => DataFileTask(e.path, e.seqNum, e.format)), schema)
    val groups = CompactionRunner.readEqualityDeletes(spark,
      eqs.map(e => EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)), schema)
    // rows ANY group suppresses — per-group semi join with that group's
    // own seq guard (groups at different sequences hit different file
    // subsets); the union dedups to one (file_path, pos) set. The delete
    // side is driver-small by MoR construction and broadcasts under AQE.
    val doomed = groups.map { g =>
      val d = scan.as("graft_rw_d")
      val del = g.df.as("graft_rw_del")
      val equi = g.equalityCols
        .map(c => col(s"graft_rw_d.$c") === col(s"graft_rw_del.$c"))
        .reduce(_ && _)
      val cond = equi && (col(s"graft_rw_d.${MorPlanner.SeqNumCol}") <
        col(s"graft_rw_del.${MorPlanner.SeqNumCol}"))
      d.join(del, cond, "left_semi")
        .select(col(MorPlanner.FilePathCol).as("file_path"),
          col(MorPlanner.PosCol).as("pos"))
    }.reduce(_ unionAll _).distinct()
    val token = java.util.UUID.randomUUID().toString
    val rewritten =
      if (asDeletionVectors)
        writeDvEntries(spark, doomed, s"$outDir/eqdel-dv-$token", targetFiles, maxEqSeq)
      else {
        val dir = s"$outDir/eqdel-rewrite-$token"
        doomed.coalesce(math.max(targetFiles, 1))
          .write.mode("errorifexists").parquet(dir)
        // an all-miss delete set writes an empty file: no entry for it
        posDeleteEntries(countedParquetsIn(spark, dir), maxEqSeq)
      }
    commit(table)((current, _) => without(current, eqPaths) ++ rewritten)
  }

  /** Rewrite the table's accumulated position-delete files into
    * `targetFiles` merged ones (Iceberg's rewrite_position_delete_files),
    * dropping dangling rows whose data file left the snapshot. With
    * `asDeletionVectors = true` the merged deletes land as ONE compressed
    * per-file-bitmap sidecar ([[DeletionVectors]] — the Iceberg-v3 shape)
    * instead of parquet rows: readers sniff the magic, so both formats
    * coexist in a snapshot and this call is the migration path.
    */
  def compactDeleteFiles(
      spark: SparkSession,
      table: String,
      outDir: String,
      targetFiles: Int = 1,
      asDeletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val entries = loadEntries(table)
    val pos = entries.filter(_.kind == "posdel")
    if (pos.size <= math.max(targetFiles, 1) && !asDeletionVectors)
      return currentSnapshotId(table)
    if (pos.isEmpty) return currentSnapshotId(table)
    val merged = CompactionRunner.readPositionDeletes(spark,
      pos.map(p => PosDeleteTask(p.path, p.format, p.sizeBytes))).get
    val livePaths = entries.filter(_.kind == "data")
      .map(e => CompactionRunner.canonPath(e.path))
    import spark.implicits._
    val alive = merged
      .join(broadcast(livePaths.toDF(
        graft.operators.MorPlanner.FilePathCol)),
        Seq(graft.operators.MorPlanner.FilePathCol), "left_semi")
      .distinct()
      .select(col(graft.operators.MorPlanner.FilePathCol).as("file_path"),
        col(graft.operators.MorPlanner.PosCol).as("pos"))
    val token = java.util.UUID.randomUUID().toString
    val seq = pos.map(_.seqNum).max
    val rewritten =
      if (asDeletionVectors)
        writeDvEntries(spark, alive, s"$outDir/posdel-dv-$token", targetFiles, seq)
      else {
        val dir = s"$outDir/posdel-compact-$token"
        alive.coalesce(math.max(targetFiles, 1))
          .write.mode("errorifexists").parquet(dir)
        // an ALL-DANGLING delete set (every referenced data file already
        // replaced) writes an empty part file — committing an entry for it
        // would wedge the table: the next run's `pos.size <= targetFiles`
        // early return can never retire it, and the zero-row posdel entry
        // disables the metadata COUNT(*) fast path forever
        posDeleteEntries(countedParquetsIn(spark, dir), seq)
      }
    commit(table)((current, _) => without(current, pos.map(_.path)) ++ rewritten)
  }

  /** DISTRIBUTED per-data-file Puffin DV write of a `(file_path, pos)`
    * frame (Iceberg-v3 sidecars): the delete set shuffles by data file,
    * each task streams its sorted slice into one Puffin file — one
    * `deletion-vector-v1` blob per data file, one file's positions in
    * memory at a time — and only metadata-sized `(path, count)` rows
    * return to the driver. No driver-side position materialization, no
    * size cap (r13's 16M driver-collect bound is gone); `targetFiles`
    * bounds the sidecar count exactly like the parquet branches. Returns
    * the committable posdel entries at sequence `seq`. Shared by the
    * pos-delete migration ([[compactDeleteFiles]]) and the direct eq→DV
    * rewrite ([[rewriteEqDeletes]]).
    */
  private def writeDvEntries(
      spark: SparkSession,
      alive: DataFrame,
      outPrefix: String,
      targetFiles: Int,
      seq: Long): Seq[TableEntry] = {
    import org.apache.spark.sql.functions.col
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val parts = math.max(targetFiles, 1)
    val written: Array[(String, Long)] = alive
      .repartition(parts, col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          // attempt id in the name: a retried/speculated task writes a
          // FRESH file instead of failing on create(overwrite=false);
          // only the winning attempt's path is committed, losers stay
          // orphans for removeOrphanFiles
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val dvPath = s"$outPrefix-p$pid-a$attempt.puffin"
          val p = new org.apache.hadoop.fs.Path(dvPath)
          val out = new java.io.BufferedOutputStream(
            p.getFileSystem(conf.value).create(p, false))
          val total =
            try {
              val w = new Puffin.DvWriter(out)
              var curFile: String = null
              val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
              def flush(): Unit = if (curFile != null) {
                w.add(curFile, buf.toArray) // sorted + distinct upstream
                buf.clear()
              }
              it.foreach { r =>
                val f = r.getString(0)
                if (f != curFile) { flush(); curFile = f }
                buf += r.getLong(1)
              }
              flush()
              w.finish()
            } finally out.close()
          Iterator.single((dvPath, total))
        }
      }.collect() // one (path, count) row per task — metadata-sized
    val hconf = spark.sessionState.newHadoopConf()
    written.toSeq.filter(_._2 > 0L).map { case (dvPath, total) =>
      val hp = new org.apache.hadoop.fs.Path(dvPath)
      val size =
        try hp.getFileSystem(hconf).getFileStatus(hp).getLen
        catch { case _: Throwable => -1L }
      TableEntry("posdel", CompactionRunner.canonPath(dvPath),
        seq, "dv", Nil, recordCount = total, sizeBytes = size)
    }
  }

  def compactTable(
      spark: SparkSession,
      table: String,
      outDir: String,
      config: CompactionConfig = CompactionConfig()): (Long, CommitManifest) =
    withTableLock(table) {
      val entries = loadEntries(table)
      // hidden partitioning: a declared spec drives the fanout write unless
      // the caller supplied explicit transforms (explicit wins, spec-less
      // callers keep today's behavior)
      val spec = partitionSpec(table)
      val effective =
        if (config.partitionTransforms.nonEmpty || spec.isEmpty) config
        else {
          val schema = currentSchema(table).getOrElse(
            CompactionRunner.inferredParquet(
              spark, Seq(dataTasks(entries).head.path)).schema)
          config.copy(partitionTransforms = spec.map { f =>
            val srcType = schema.fields.find(_.name == f.source).map(_.dataType)
              .getOrElse(throw GraftError.Metadata(
                s"partition spec source column '${f.source}' not in $table's schema"))
            f.name -> CompactionService.partitionTransform(f.transform, f.source, srcType)
          })
        }
      // declared sort order: the catalog's clustering intent drives the
      // rewrite when the caller didn't choose a layout (same explicit-wins
      // rule as the partition spec above); ordered columns auto-join the
      // stats set so the sorted layout immediately feeds pruning
      val so = sortOrder(table)
      val layout =
        if (effective.clusterBy.nonEmpty || effective.zOrderBy.nonEmpty ||
            so.isEmpty) effective
        else effective.copy(clusterBy = so,
          statsCols = (effective.statsCols ++ so).distinct)
      val sized = targetSizedConfig(table, layout, entries.filter(_.kind == "data"))
      val manifest = CompactionRunner.compact(spark,
        dataTasks(entries),
        entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) },
        entries.collect { case e if e.kind == "eqdel" =>
          EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
        },
        outDir,
        sized,
        currentSchema(table))
      val partNames = effective.partitionTransforms.map(_._1)
      // each file records WHICH transform produced its tuple values — the
      // flattened per-file spec binding that keeps pruning correct across
      // spec evolution (caller-supplied Column transforms have no string
      // form; their tuples are recorded transform-less and never pruned)
      // ONLY when the spec drove the fanout: caller-supplied Column
      // transforms have no string form, and recording the spec's transform
      // for a same-named caller transform would make pruning misread the
      // caller's tuples (values from a different function entirely)
      val specTransforms =
        if (config.partitionTransforms.nonEmpty) Map.empty[String, String]
        else spec.map(f => f.name -> s"${f.transform}|${f.source}").toMap
      val snapId = commitLocked(table) { (current, seq) =>
        without(current, manifest.removedDataFiles ++ manifest.removedDeleteFiles) ++
          manifest.addedFiles.map { f =>
            val vals = partitionValsFromPath(f.path, partNames)
            TableEntry("data", f.path, seq, "parquet", Nil,
              stats = statsOf(f),
              partitionVals = vals,
              partitionTransforms =
                specTransforms.view.filterKeys(vals.contains).toMap,
              recordCount = f.recordCount,
              sizeBytes = f.sizeBytes)
          }
      }
      writeCompactWatermark(table, snapId)
      // this rewrite range-clustered + sorted EVERY data file by the
      // declared write order — stamp the snapshot as provably sorted so
      // scans of exactly this state can report ordering (sort elision)
      if (so.nonEmpty && sized.clusterBy == so && sized.zOrderBy.isEmpty &&
          sized.targetPartitions > 0)
        writeSortedWatermark(table, snapId, so)
      (snapId, manifest)
    }

  /** Recover a written file's partition tuple from its Hive-layout path
    * segments (`name=value/`) — the fanout writer encodes exactly the
    * transform values there, so this is metadata the commit already has,
    * not a file read. Spark escapes special characters `%XX`-style in both
    * names and values; `__HIVE_DEFAULT_PARTITION__` is a null value.
    */
  private def partitionValsFromPath(
      path: String, names: Seq[String]): Map[String, String] =
    if (names.isEmpty) Map.empty
    else {
      def unesc(s: String) = java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
      path.split('/').toSeq.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if names.contains(unesc(k)) =>
            Some(unesc(k) ->
              (if (v == "__HIVE_DEFAULT_PARTITION__") null else unesc(v)))
          case _ => None
        }
      }.toMap
    }

  // ---- incremental compaction (the reference's own roadmap item:
  // `README.md:30` "Incremental compaction") --------------------------------

  private def watermarkPath(table: String) =
    tableDir(table).resolve("COMPACT_WATERMARK")

  /** The snapshot produced by the last compaction (full or incremental), if
    * any — the baseline an incremental compaction diffs against.
    */
  def lastCompactedSnapshotId(table: String): Option[Long] =
    if (!Files.exists(watermarkPath(table))) None
    else Some(Files.readString(watermarkPath(table)).trim.toLong)

  private def writeCompactWatermark(table: String, id: Long): Unit = {
    val tmp = tableDir(table).resolve(
      s".COMPACT_WATERMARK.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, id.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, watermarkPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def sortedWatermarkPath(table: String) =
    tableDir(table).resolve("SORTED_WATERMARK")

  /** The snapshot whose data files were ALL produced by a range-clustered
    * rewrite sorted by the declared write order — stamped by the
    * compaction commit that wrote them — plus the columns that sorted
    * them. This is the PROOF a scan needs to report per-partition
    * ordering (`SupportsReportOrdering`): the declared order alone is a
    * write-time intent (files written before the declaration are not
    * sorted), while this watermark names one snapshot whose physical
    * layout is known-sorted. Any later commit moves the head past the
    * stamped id and the claim expires with it; time-travel TO the stamped
    * snapshot keeps it. None = never sorted-compacted.
    */
  def sortedSnapshot(table: String): Option[(Long, Seq[String])] = {
    val p = sortedWatermarkPath(table)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split("\t", 2) match {
      case Array(id, cols) =>
        id.toLongOption.map(_ -> cols.split(",").toSeq.filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8")))
      case _ => None
    }
  }

  private def writeSortedWatermark(
      table: String, id: Long, cols: Seq[String]): Unit = {
    val tmp = tableDir(table).resolve(
      s".SORTED_WATERMARK.tmp-${Thread.currentThread().getId}")
    val enc = cols.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
    Files.writeString(tmp, s"$id\t$enc",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, sortedWatermarkPath(table),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Incremental compaction: rewrite ONLY the data files appended since the
    * last compaction's snapshot ([[appendedFilesBetween]] — the append-diff
    * scan), leaving earlier compacted outputs physically untouched. At
    * production cadence this is the whole point of the watermark: each run
    * touches the delta, never the table.
    *
    * Pending delete files are APPLIED to the rewritten delta (the rewritten
    * rows come out clean, and the new outputs' sequence number places them
    * above every pending eq-delete) but are NOT blanket-retired — a delete
    * committed since the last compaction may still suppress rows in the
    * untouched older outputs. The commit retires only eq-delete files that
    * are provably DEAD after the rewrite: the strict `data.seq < delete.seq`
    * guard means an eq-delete no kept data file undercuts can never match
    * again. Position-delete files always stay pending (whether one still
    * references a surviving file is content, not metadata — retiring on
    * content is a full compaction's job).
    *
    * Falls back to a FULL [[compactTable]] when there is no watermark yet or
    * the watermark snapshot has been expired (the diff base is gone).
    * Returns `(currentSnapshotId, empty manifest)` without committing when
    * nothing was appended since the watermark.
    */
  /** The watermark snapshot an incremental compaction can actually diff
    * against: present AND not expired (an expired base means the diff
    * chain is gone → callers fall back to full compaction).
    */
  private def usableWatermark(table: String): Option[Long] =
    lastCompactedSnapshotId(table).filter(snapshotIds(table).contains)

  def compactTableIncremental(
      spark: SparkSession,
      table: String,
      outDir: String,
      config: CompactionConfig = CompactionConfig()): (Long, CommitManifest) = {
    val base = usableWatermark(table)
    base match {
      case None => compactTable(spark, table, outDir, config)
      case Some(wm) => withTableLock(table) {
        val head = currentSnapshotId(table)
        val delta = appendedFilesBetween(table, wm, head)
        if (delta.isEmpty) {
          (head, CommitManifest(Nil, Nil, Nil, 0L))
        } else {
          val entries = loadEntries(table)
          val deltaPaths = delta
            .map(t => CompactionRunner.canonPath(t.path)).toSet
          // declared sort order applies to the delta rewrite too (sorted
          // within the rewritten group — Iceberg's incremental-sort shape)
          val so = sortOrder(table)
          val layout =
            if (config.clusterBy.nonEmpty || config.zOrderBy.nonEmpty ||
                so.isEmpty) config
            else config.copy(clusterBy = so,
              statsCols = (config.statsCols ++ so).distinct)
          val manifest = CompactionRunner.compact(spark,
            delta,
            entries.collect { case e if e.kind == "posdel" => PosDeleteTask(e.path, e.format, e.sizeBytes) },
            entries.collect { case e if e.kind == "eqdel" =>
              EqDeleteTask(e.path, e.seqNum, e.eqCols, e.eqIds, e.sizeBytes)
            },
            outDir,
            targetSizedConfig(table,
              layout.copy(retireDeleteFiles = false),
              entries.filter(e => e.kind == "data" &&
                deltaPaths(CompactionRunner.canonPath(e.path)))),
            currentSchema(table))
          // dead eq-deletes: after the rewrite the kept data files are
          // (all data minus the delta) plus the new outputs at maxSeq+1;
          // an eq-delete with no kept file strictly below its seq can
          // never suppress a row again — retire it in the same commit
          val removedSet = manifest.removedDataFiles
            .flatMap(p => Seq(p, CompactionRunner.canonPath(p))).toSet
          val keptDataSeqs = entries.collect {
            case e if e.kind == "data" &&
              !removedSet(CompactionRunner.canonPath(e.path)) &&
              !removedSet(e.path) => e.seqNum
          }
          val deadEqDeletes = entries.collect {
            case e if e.kind == "eqdel" &&
              !keptDataSeqs.exists(_ < e.seqNum) => e.path
          }
          val snapId = commitLocked(table) { (current, seq) =>
            without(current, manifest.removedDataFiles ++ deadEqDeletes) ++
              manifest.addedFiles.map(f => TableEntry("data", f.path, seq,
                "parquet", Nil, stats = statsOf(f),
                recordCount = f.recordCount, sizeBytes = f.sizeBytes))
          }
          writeCompactWatermark(table, snapId)
          (snapId, manifest.copy(removedDeleteFiles = deadEqDeletes
            .map(CompactionRunner.canonPath)))
        }
      }
    }
  }

  /** Auto-compaction cadence: compact only when the small-file debt since
    * the last compaction reaches `minAppendedFiles` — the trigger loop a
    * production deployment runs on every commit (or on a timer) instead of
    * compacting blindly. Debt = data files appended since the watermark;
    * a never-compacted table counts every data file. Below the threshold
    * this is a pure metadata check — no Spark job, no commit. On trigger
    * it delegates to [[compactTableIncremental]] (which rewrites only the
    * delta, or falls back to full for a virgin table), so the cost of each
    * triggered run is proportional to the debt, not the table.
    *
    * The debt check runs OUTSIDE the table lock ([[withTableLock]] is
    * non-reentrant, and the check must stay a cheap read): a commit landing
    * between check and compact only GROWS the delta, and the locked
    * [[compactTableIncremental]] re-diffs at lock time — so the triggered
    * run compacts at least the files that crossed the threshold, never a
    * stale subset.
    */
  /** Apply `write.target-file-size-bytes` (the knob every Iceberg
    * deployment sets): when the table declares it and every input file
    * carries a known manifest size, the rewrite's partition count becomes
    * `ceil(inputBytes / target)` — output files sized from METADATA
    * alone, no sampling pass. The property wins over the config's
    * partition count for tables that declare it (callers wanting manual
    * control simply don't set it); tables without the property, or with
    * any unknown input size, keep the caller's count unchanged. MoR
    * deletes shrink output below input, so sized files land at-or-under
    * target — the safe side of the knob.
    */
  private def targetSizedConfig(
      table: String,
      config: CompactionConfig,
      inputs: Seq[TableEntry]): CompactionConfig =
    tableProperties(table).get("write.target-file-size-bytes")
      .flatMap(_.toLongOption).filter(_ > 0) match {
      case Some(tfs) if inputs.nonEmpty && inputs.forall(_.sizeBytes >= 0) =>
        val total = inputs.map(_.sizeBytes).sum
        config.copy(targetPartitions =
          math.max(1L, (total + tfs - 1) / tfs).toInt)
      case _ => config
    }

  def maybeCompactTable(
      spark: SparkSession,
      table: String,
      outDir: String,
      minAppendedFiles: Int = 8,
      config: CompactionConfig = CompactionConfig()): Option[(Long, CommitManifest)] = {
    require(minAppendedFiles > 0, "minAppendedFiles must be positive")
    if (compactionDebt(table) >= minAppendedFiles)
      Some(compactTableIncremental(spark, table, outDir, config))
    else None
  }

  /** Small-file debt: files appended since the last compaction watermark
    * (or the whole table when none exists) — metadata only, no Spark job.
    * The signal [[maybeCompactTable]] gates on and
    * [[CompactionScheduler]] prioritizes by.
    */
  def compactionDebt(table: String): Int = usableWatermark(table) match {
    case Some(wm) =>
      appendedFilesBetween(table, wm, currentSnapshotId(table)).size
    case None => loadTable(table).size
  }

  /** Delete-file DEBT: position-delete files the snapshot carries — each
    * costs every MoR scan a file open until retired. Metadata-only (one
    * snapshot read). The scheduler pairs it with [[compactionDebt]]:
    * append debt warrants a data rewrite (which also retires deletes);
    * delete debt ALONE warrants the far cheaper [[compactDeleteFiles]].
    */
  def deleteFileDebt(table: String): Int =
    loadEntries(table).count(_.kind == "posdel")

  /** Churn between the recorded statistics snapshot and the current head
    * — the statistics LIFECYCLE signal. Theta sketches union but cannot
    * subtract, so rows removed after an ANALYZE leave the recorded NDV
    * stale-HIGH with no incremental repair: any removed data file (a
    * compaction rewrite, a COW delete) or added delete file (MoR DML)
    * means only a FULL re-analyze restores accuracy, while added data
    * files alone are repairable by the cheap incremental union.
    * Metadata-only (two snapshot reads, no data IO). None = the table
    * was never analyzed (statistics are opt-in; schedulers skip it).
    * An EXPIRED stats-base snapshot at a moved head reports stale
    * conservatively — freshness is no longer provable.
    */
  def statsChurn(table: String): Option[GraftCatalog.StatsChurn] =
    tableStatistics(table).map { ref =>
      val head = currentSnapshotId(table)
      if (ref.snapshotId == head)
        GraftCatalog.StatsChurn(ref.snapshotId, 0, 0, 0, 0, baseExpired = false)
      else try {
        val before = loadEntriesAt(table, ref.snapshotId)
        val now = loadEntries(table)
        val beforeData = before.filter(_.kind == "data").map(_.path).toSet
        val nowData = now.filter(_.kind == "data").map(_.path).toSet
        val beforeDel = before.filter(_.kind != "data").map(_.path).toSet
        val nowDel = now.filter(_.kind != "data").map(_.path).toSet
        GraftCatalog.StatsChurn(
          ref.snapshotId,
          removedDataFiles = (beforeData -- nowData).size,
          addedDeleteFiles = (nowDel -- beforeDel).size,
          // a delete file REMOVED without its data files changing is a
          // rollback or delete-retraction: the suppressed rows came BACK,
          // so the sketches are stale-LOW — as re-analyze-worthy as
          // stale-high
          removedDeleteFiles = (beforeDel -- nowDel).size,
          addedDataFiles = (nowData -- beforeData).size,
          baseExpired = false)
      } catch {
        case _: Exception =>
          GraftCatalog.StatsChurn(ref.snapshotId, 0, 0, 0, 0, baseExpired = true)
      }
    }

  /** True when the recorded statistics can no longer be trusted as an
    * UPPER-bound-accurate estimate (rows were removed since the ANALYZE,
    * or the base snapshot expired unprovably). Iceberg convention still
    * SERVES stale stats — this is the operations signal for when to
    * re-analyze, not a serving gate.
    */
  def statsStale(table: String): Boolean = statsChurn(table).exists(_.stale)

  /** True when a pending POSITION delete may reference a data file no
    * longer in the snapshot (dangling positions) — the incremental-
    * compaction shape: the delta's files are rewritten away while the
    * delete files stay pending. Dangling positions match nothing at read
    * time, so subtracting their cardinality from the data-file row sum
    * would UNDERCOUNT live rows — the mis-broadcast direction — and the
    * exact-rowcount estimate must withhold instead.
    *
    * Metadata-only and CONSERVATIVE: walking the retained snapshots, any
    * commit that removed data files while a currently-pending posdel was
    * already live flags the hazard (whether or not that posdel actually
    * references a removed file — unknowable without reading the delete
    * rows), as does any unprovable history (pending posdels that predate
    * the oldest retained snapshot, or introduced inside a retention
    * gap). A FULL compaction retires the pending set and clears the
    * hazard. O(retained snapshots) document reads, cached per
    * (table, head) — the answer only changes at a commit.
    */
  def posDeleteDanglingPossible(
      table: String, asOf: Option[Long] = None): Boolean = {
    val head = asOf.getOrElse(currentSnapshotId(table))
    // the generation UUID keys out drop/recreate: snapshot ids restart at
    // 1 on re-create, so a (root, table, head) key alone could serve the
    // DROPPED generation's cached false and let the exact pos-delete
    // row-count subtraction run in a state where positions may dangle —
    // the undercount/mis-broadcast hazard this guard exists to block.
    val key = (root, table, tableUuid(table).getOrElse(""), head)
    Option(GraftCatalog.danglingCache.get(key)).map(Boolean.unbox).getOrElse {
      val r =
        try computeDanglingPossible(table, head)
        catch { case _: Exception => true } // unreadable history: withhold
      GraftCatalog.danglingCache.put(key, r)
      r
    }
  }

  private def computeDanglingPossible(table: String, head: Long): Boolean = {
    val pending = loadEntriesAt(table, head)
      .collect { case e if e.kind == "posdel" => e.path }.toSet
    if (pending.isEmpty) return false
    val ids = snapshotIds(table).filter(_ <= head).sorted
    def snap(id: Long): (Set[String], Set[String]) = {
      val es = loadEntriesAt(table, id)
      (es.collect { case e if e.kind == "data" => e.path }.toSet,
        es.collect { case e if e.kind == "posdel" => e.path }.toSet
          .intersect(pending))
    }
    val first = snap(ids.head)
    // pending posdels older than the oldest retained snapshot have
    // invisible history — a removal could hide behind the expiry
    if (first._2.nonEmpty && ids.head != 1L) return true
    ids.zip(ids.tail).exists { case (a, b) =>
      val (dataA, pendA) = snap(a)
      val (dataB, pendB) = snap(b)
      // a visible removal while a still-pending posdel was live
      ((dataA -- dataB).nonEmpty && pendA.nonEmpty) ||
        // a pending posdel introduced INSIDE a retention gap could
        // reference a file added and removed inside the same gap
        (b != a + 1 && (pendB -- pendA).nonEmpty)
    }
  }

  /** Re-ANALYZE debt for the scheduler: how many snapshot entries moved
    * in ways the recorded sketches cannot account for. 0 = fresh or
    * never analyzed.
    */
  def analyzeDebt(table: String): Int =
    statsChurn(table).map(c =>
      c.removedDataFiles + c.addedDeleteFiles + c.removedDeleteFiles +
        (if (c.baseExpired) 1 else 0))
      .getOrElse(0)

  /** All tables in this catalog (any directory with a registered head) —
    * forks ([[forkTable]]'s `name@branch`) included; schedulers filter.
    * Tables inside namespaces list as their `/`-joined catalog name
    * (`ns/t`); the walk descends ONLY into marker-carrying namespace
    * directories, so unrelated directories (the managed `_data` tree,
    * staging dirs) are never scanned.
    */
  def tables(): Seq[String] = {
    def walk(prefix: String, dir: java.nio.file.Path): Seq[String] = {
      if (!Files.isDirectory(dir)) Nil
      else {
        val stream = Files.list(dir)
        val children = try stream.iterator().asScala
          .filter(Files.isDirectory(_)).toSeq
        finally stream.close()
        children.flatMap { c =>
          val name = prefix + c.getFileName.toString
          if (headExists(name)) Seq(name)
          else if (Files.exists(c.resolve(GraftCatalog.NamespaceMarker)))
            walk(name + "/", c)
          else Nil
        }
      }
    }
    walk("", Paths.get(root)).sorted
  }

  // ---- namespaces (Iceberg's multi-level namespace tree) -----------------
  //
  // A namespace is a marker-carrying directory under the root; tables in
  // it are addressed by their `/`-joined catalog name ("ns/t", nested
  // "a/b/t"). The flat root level is the implicit `default` namespace the
  // REST facade exposes — it always exists and cannot be created or
  // dropped. The marker doubles as the namespace's property sidecar.

  private def nsDir(ns: String) = Paths.get(root, ns.split('/').toSeq: _*)
  private def nsMarker(ns: String) = nsDir(ns).resolve(GraftCatalog.NamespaceMarker)

  /** Segment validation shared by namespace and table creation: no
    * traversal ("..", "."), no separators, no fork/hidden prefixes.
    */
  private def validateSegments(kind: String, name: String): Unit = {
    val parts = name.split('/')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"invalid $kind name '$name': empty segment")
    parts.foreach { p =>
      require(p != "." && p != "..", s"invalid $kind name '$name': traversal segment")
      require(!p.startsWith("."), s"invalid $kind name '$name': hidden segment '$p'")
      require(!p.exists("@\\\t\n".contains(_)),
        s"invalid $kind name '$name': reserved character in '$p'")
      require(p != "_data", s"invalid $kind name '$name': '_data' is the managed data tree")
    }
  }

  def namespaceExists(ns: String): Boolean = Files.exists(nsMarker(ns))

  /** Create a namespace (optionally nested — every parent must already
    * exist, like `CREATE NAMESPACE a.b` after `a`). Refuses names that
    * collide with an existing table directory.
    */
  def createNamespace(ns: String, props: Map[String, String] = Map.empty): Unit = {
    validateSegments("namespace", ns)
    val parts = ns.split('/').toSeq
    parts.inits.toSeq.reverse.drop(1).dropRight(1).foreach { parent =>
      val p = parent.mkString("/")
      require(namespaceExists(p), s"parent namespace $p does not exist")
    }
    GraftCatalog.nsLock.synchronized {
      require(!namespaceExists(ns), s"namespace $ns already exists")
      require(!headExists(ns), s"a table named $ns already exists")
      Files.createDirectories(nsDir(ns))
      writeNsProps(ns, props)
    }
  }

  /** Drop an empty namespace: refuses while tables or child namespaces
    * live under it (Iceberg's NamespaceNotEmpty contract).
    */
  def dropNamespace(ns: String): Unit = GraftCatalog.nsLock.synchronized {
    require(namespaceExists(ns), s"namespace $ns does not exist")
    val children = tables().filter(_.startsWith(ns + "/")) ++
      namespaces().filter(_.startsWith(ns + "/"))
    require(children.isEmpty,
      s"namespace $ns is not empty: ${children.take(5).mkString(", ")}")
    Files.deleteIfExists(nsMarker(ns))
    // best-effort dir removal — stray lock files from table ops that once
    // lived here are cleaned; a non-empty dir (concurrent create) survives
    try {
      Files.deleteIfExists(nsDir(ns).resolve(".lock"))
      Files.deleteIfExists(nsDir(ns))
    } catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  /** Every namespace, `/`-joined, nested included, sorted. */
  def namespaces(): Seq[String] = {
    def walk(prefix: String, dir: java.nio.file.Path): Seq[String] = {
      if (!Files.isDirectory(dir)) Nil
      else {
        val stream = Files.list(dir)
        val children = try stream.iterator().asScala
          .filter(Files.isDirectory(_)).toSeq
        finally stream.close()
        children.flatMap { c =>
          val name = prefix + c.getFileName.toString
          if (Files.exists(c.resolve(GraftCatalog.NamespaceMarker)))
            name +: walk(name + "/", c)
          else Nil
        }
      }
    }
    walk("", Paths.get(root)).sorted
  }

  def namespaceProperties(ns: String): Map[String, String] = {
    require(namespaceExists(ns), s"namespace $ns does not exist")
    Files.readString(nsMarker(ns)).split("\n").filter(_.nonEmpty).toSeq.map { l =>
      l.split("\t", 2) match {
        case Array(k, v) => dec(k) -> dec(v)
        case Array(k) => dec(k) -> ""
      }
    }.toMap
  }

  /** Merge/remove namespace properties (a key in both sets is removed —
    * same last-intent rule as [[updateTableProperties]]).
    */
  def updateNamespaceProperties(
      ns: String,
      updates: Map[String, String],
      removals: Set[String] = Set.empty): Unit =
    GraftCatalog.nsLock.synchronized {
      require(namespaceExists(ns), s"namespace $ns does not exist")
      writeNsProps(ns, (namespaceProperties(ns) ++ updates) -- removals)
    }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def writeNsProps(ns: String, props: Map[String, String]): Unit = {
    val tmp = nsDir(ns).resolve(s".ns.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp,
      props.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
        .mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, nsMarker(ns),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def encodeEntryLine(e: TableEntry): String =
    s"${e.kind}\t${e.path}\t${e.seqNum}\t${e.format}\t${e.eqCols.mkString(",")}" +
      s"\t${e.eqIds.mkString(",")}\t${e.stats.fold("")(encodeStats)}" +
      s"\t${encodePartition(e.partitionVals, e.partitionTransforms)}" +
      s"\t${if (e.recordCount < 0 && e.sizeBytes < 0) ""
            else s"${e.recordCount},${e.sizeBytes}"}"

  /** A segment reference line inside a v2 snapshot document:
    * `name<TAB>entryCount<TAB>sha1(body)`. The digest is over the segment's
    * exact line block, which is also how a later commit detects that its
    * own entry list still starts with this segment's entries (carry check)
    * without re-reading the segment file.
    */
  private case class SegRef(name: String, count: Int, digest: String)

  private def digestOf(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def segRefsOf(table: String, id: Long): Seq[SegRef] = {
    val p = snapPath(table, id)
    if (!Files.exists(p)) Nil
    else {
      val text = Files.readString(p)
      if (!text.startsWith(GraftCatalog.SegmentedHeader)) Nil
      else text.split("\n").toSeq.drop(1).filter(_.nonEmpty).map { ref =>
        ref.split("\t", 3) match {
          case Array(n, c, d) => SegRef(n, c.toInt, d)
          case _ => throw GraftError.Metadata(
            s"unparseable segment reference in snap-$id of $table: $ref")
        }
      }
    }
  }

  /** Commit metadata is SEGMENTED (the Iceberg manifest-list shape): a
    * snapshot document is a small list of references to immutable entry
    * segments, and a commit whose entry list starts with the previous
    * snapshot's segments carries them BY REFERENCE and writes only the
    * tail as one new segment. The dominant commit shapes — appends,
    * streaming batches, MoR upserts/deletes (all strictly additive) — cost
    * O(files touched) metadata, not O(table): a per-minute streaming commit
    * onto a million-file table writes a segment for its own files plus a
    * handful of reference lines, where the flat form rewrote (and
    * retained!) a million lines per commit. Rewriting commits (compaction,
    * metadata-only drops) break the prefix and pay a full segment — they
    * are the rare, already-heavyweight ops, exactly as Iceberg rewrites
    * manifests on rewrite commits.
    *
    * Segments are write-once (UUID-tokened names, atomic move, never
    * replaced), so [[GraftCatalog.segmentCache]] can cache parsed entries
    * by path forever; [[expireSnapshots]] garbage-collects segments no
    * retained snapshot references. Pre-segmentation flat documents still
    * parse (readSnapshot's legacy branch) — the first commit on top of one
    * writes its full state as one segment and carries from there on.
    */
  private def writeSnapshot(table: String, id: Long, entries: Seq[TableEntry]): Unit = {
    val lines = entries.map(encodeEntryLine)
    // greedy prefix carry against the previous snapshot's composition: the
    // slice digests, not the segment files, decide — O(delta) IO on the
    // additive paths. (The base may be missing — createTable, a rolled-back
    // chain with gaps, a fork's first snapshot — or flat-legacy: both mean
    // nothing carries and the full list lands in one fresh segment.)
    var pos = 0
    val carried = segRefsOf(table, id - 1).takeWhile { r =>
      val ok = pos + r.count <= lines.length &&
        digestOf(lines.slice(pos, pos + r.count)) == r.digest
      if (ok) pos += r.count
      ok
    }
    val rest = lines.drop(pos)
    val fresh = if (rest.isEmpty) None else {
      val name = s"seg-$id-${java.util.UUID.randomUUID().toString.take(8)}.tsv"
      val tmp = tableDir(table).resolve(s".$name.tmp")
      Files.writeString(tmp, rest.mkString("\n"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, tableDir(table).resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Some(SegRef(name, rest.length, digestOf(rest)))
    }
    val refs = carried ++ fresh
    val body = (GraftCatalog.SegmentedHeader +:
      refs.map(r => s"${r.name}\t${r.count}\t${r.digest}")).mkString("\n")
    // temp + atomic move (like writeHead): a crash mid-write must not leave
    // a torn snap-N.tsv that snapshotIds/time-travel/orphan detection would
    // treat as a retained snapshot.
    //
    // NO REPLACE_EXISTING: snapshot documents are write-once. Two drivers
    // whose locks can't see each other (the cross-host scenario the SQL
    // head store exists for) can both compute the same next id; with a
    // replacing move the LOSER of the subsequent pointer CAS would clobber
    // the WINNER's installed document first — committed files silently
    // lost. First-writer-wins on the document makes the race loud instead:
    // the second writer aborts with a typed conflict before reaching its
    // CAS. (A committer that crashed between installing the document and
    // the CAS leaves an unreferenced snap-<id>.tsv; the conflict message
    // names it for operator cleanup — stuck-and-loud over silent loss.)
    // The claim is a HARD LINK of the fully-written temp file, not a move:
    // POSIX rename(2) — what ATOMIC_MOVE compiles to — silently REPLACES an
    // existing target, so a move-based "fail if exists" never fires on
    // Linux and the loser would clobber the winner after all. link(2) is
    // the primitive that atomically fails on an existing name while making
    // the complete content visible in the same step.
    val tmp = tableDir(table).resolve(s".snap-$id.tmp-${Thread.currentThread().getId}")
    Files.writeString(tmp, body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try Files.createLink(snapPath(table, id), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        // the conflict loser's fresh segment is referenced by nothing;
        // reclaim it now rather than waiting for expiry GC
        fresh.foreach(r => Files.deleteIfExists(tableDir(table).resolve(r.name)))
        throw GraftError.Metadata(
          s"commit conflict on $table: snapshot document ${snapPath(table, id)} " +
            "already exists (another driver committed this id first, or a " +
            "crashed commit left it unreferenced — verify and remove it if " +
            "HEAD never reached this id); re-read and retry")
    }
    Files.deleteIfExists(tmp)
  }

  private def readSnapshot(table: String, id: Long): Seq[TableEntry] = {
    val text = Files.readString(snapPath(table, id))
    if (text.isEmpty) Nil
    else if (text.startsWith(GraftCatalog.SegmentedHeader))
      segRefsOf(table, id).flatMap { r =>
        val entries = segmentEntries(table, r.name)
        if (entries.length != r.count)
          throw GraftError.Metadata(
            s"segment ${r.name} of $table holds ${entries.length} entries " +
              s"but snap-$id recorded ${r.count} — torn or foreign segment file")
        entries
      }
    else text.split("\n").toSeq.map(parseEntryLine)
  }

  /** Parsed entries of one immutable segment, via the process-wide cache:
    * segment names are UUID-tokened and never rewritten, so a cached parse
    * can never go stale — repeated [[loadEntries]] calls (every commit,
    * scan, and scheduler sweep starts with one) re-read only documents that
    * appeared since, not the accumulated table history.
    */
  private def segmentEntries(table: String, name: String): Seq[TableEntry] = {
    require(name.startsWith("seg-") && !name.contains("/") && !name.contains(".."),
      s"invalid segment reference: $name")
    val key = tableDir(table).resolve(name).toAbsolutePath.toString
    // TableEntry is path-dependent on the catalog instance; entries are
    // plain data, so sharing across instances through the projected type is
    // sound — the cast recovers this instance's view
    val cached = GraftCatalog.segmentCache.get(key)
    if (cached != null) cached.asInstanceOf[Seq[TableEntry]]
    else {
      val p = tableDir(table).resolve(name)
      if (!Files.exists(p))
        throw GraftError.Metadata(
          s"snapshot of $table references missing segment $name " +
            "(expired segment GC raced a reader, or metadata was hand-edited)")
      val entries = Files.readString(p).split("\n").toSeq
        .filter(_.nonEmpty).map(parseEntryLine)
      if (GraftCatalog.segmentCache.size > 512) GraftCatalog.segmentCache.clear()
      GraftCatalog.segmentCache.put(key, entries)
      entries
    }
  }

  private def parseEntryLine(line: String): TableEntry = {
      line.split("\t", 9) match {
        case Array(k, p, s, f, cols, ids, stats, partition, counts) =>
          val (pvals, ptransforms) = decodePartition(partition)
          val (rc, bytes) = counts.split(",", 2) match {
            case Array(r, b) if r.nonEmpty => (r.toLong, b.toLong)
            case _ => (-1L, -1L)
          }
          TableEntry(k, p, s.toLong, f,
            if (cols.isEmpty) Nil else cols.split(",").toSeq,
            if (ids.isEmpty) Nil else ids.split(",").toSeq.map(_.toInt),
            decodeStats(stats),
            pvals, ptransforms, rc, bytes)
        case Array(k, p, s, f, cols, ids, stats, partition) =>
          val (pvals, ptransforms) = decodePartition(partition)
          TableEntry(k, p, s.toLong, f,
            if (cols.isEmpty) Nil else cols.split(",").toSeq,
            if (ids.isEmpty) Nil else ids.split(",").toSeq.map(_.toInt),
            decodeStats(stats),
            pvals, ptransforms)
        case Array(k, p, s, f, cols, ids, stats) => // pre-partition 7-field
          TableEntry(k, p, s.toLong, f,
            if (cols.isEmpty) Nil else cols.split(",").toSeq,
            if (ids.isEmpty) Nil else ids.split(",").toSeq.map(_.toInt),
            decodeStats(stats))
        case Array(k, p, s, f, cols, ids) => // pre-stats 6-field line
          TableEntry(k, p, s.toLong, f,
            if (cols.isEmpty) Nil else cols.split(",").toSeq,
            if (ids.isEmpty) Nil else ids.split(",").toSeq.map(_.toInt))
        case Array(k, p, s, f, cols) => // pre-eqIds 5-field line
          TableEntry(k, p, s.toLong, f,
            if (cols.isEmpty) Nil else cols.split(",").toSeq)
        case Array(p, s, f) => // legacy 3-field data line
          TableEntry("data", p, s.toLong, f, Nil)
        case other =>
          throw new IllegalStateException(
            s"unparseable snapshot line (${other.length} fields): $line")
      }
  }
}

object GraftCatalog {
  /** First line of a segmented (v2) snapshot document; anything else is the
    * original flat one-entry-per-line form.
    */
  private[sources] val SegmentedHeader = "#graft-snap-v2"

  /** Prefix under which [[GraftCatalog.mergeInto]] exposes SOURCE columns
    * to the whenMatchedSet / whenMatchedDelete expressions — part of the
    * merge API's contract (the SQL MERGE translation maps source-side
    * references onto it).
    */
  val MergeSrcPrefix = "_src_"

  /** Parsed entries per segment file, keyed by absolute path. Safe to share
    * process-wide because segments are write-once under UUID-tokened names
    * (created with a non-replacing atomic move, never mutated); crudely
    * bounded by a clear-on-overflow — segments are driver-side metadata,
    * not data.
    */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[GraftCatalog#TableEntry]]()

  /** One lock object per (root, table) across all catalog instances in this
    * JVM — FileChannel locks don't guard threads of the same process.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One recorded statistics file (the spec's `statistics` /
    * `partition-statistics` entries): which snapshot it describes, where
    * it lives (by reference — imports keep foreign paths), and the two
    * sizes the metadata.json entry publishes (footer size -1 for
    * partition-stats files, which have none).
    */
  final case class StatsFileRef(
      snapshotId: Long,
      path: String,
      fileSizeInBytes: Long,
      footerSizeInBytes: Long)

  /** Parsed Puffin footers per statistics file, keyed by path — safe to
    * share process-wide because stats files are write-once (re-analyze
    * deletes and rewrites under a NEW head id).
    */
  private[sources] val statsFooterCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Puffin.BlobMeta]]()

  /** Parsed partition-statistics rollups by file path (write-once paths —
    * the generation suffix guarantees a path's content never changes).
    */
  private[sources] val pstatsRollupCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, Map[Seq[String], (Long, Long)]]()

  /** One equi-height histogram (Spark CBO's `Histogram` shape): `height`
    * = rows per bin, each bin `(lo, hi, ndv)` with approx distinct count.
    * Recorded per column as a `graft-histogram-v1` Puffin blob — a
    * documented extension blob type (Iceberg's own statistics spec stops
    * at sketches); foreign readers skip unknown blob types by contract.
    */
  final case class EquiHeightHistogram(
      height: Double,
      bins: Seq[(Double, Double, Long)])

  private[sources] val HistogramBlobType = "graft-histogram-v1"

  /** Equi-height bin count per column — 64 gives ~1.6% selectivity
    * resolution at a few KB per column blob.
    */
  private[sources] val HistogramBins = 64

  /** Decoded histograms per statistics file, keyed by path (write-once
    * paths) → field id → histogram.
    */
  private[sources] val histogramCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, Map[Int, EquiHeightHistogram]]()

  /** Cap on distinct equality-delete key tuples the changelog diff
    * restriction will collect driver-side before declaring the key set
    * unbounded and falling back to the full from-scan
    * ([[GraftCatalog.changelogEqDiffCandidates]]). Point/batch deletes —
    * the shape the key-equality DELETE fast path commits — sit far under
    * it; a bulk eq-delete over millions of keys is table-shaped work and
    * scans the table as before.
    */
  private[graft] val ChangelogEqKeyCap = 4096

  /** Whether every KEY field of a collected (keys…, seq) row schema has
    * JVM value equality matching SQL `=` — the precondition for folding
    * max-seq-per-key on the driver from already-collected rows. Binary
    * lands as Array[Byte] (reference equality: every row its own "key"),
    * and Float/Double split ±0.0 that SQL equality merges — both would
    * let one data row match several marker keys and DUPLICATE changelog
    * rows, so they (and nested types) take the distributed build instead.
    */
  private[graft] def driverGroupSafe(
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.dropRight(1).forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    })
  }

  /** [[GraftCatalog.posDeleteDanglingPossible]] results per
    * (root, table, generation uuid, snapshot) — the snapshot id keys
    * staleness within a generation; the uuid keys out drop/recreate.
    */
  private[sources] val danglingCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String, String, Long), java.lang.Boolean]()

  // payload text format, line-oriented (doubles round-trip via
  // Double.toString/parse exactly): "v1\n<height>\n<lo>,<hi>,<ndv>\n..."
  private[sources] def encodeHistogram(h: EquiHeightHistogram): Array[Byte] = {
    val sb = new StringBuilder("v1\n").append(h.height).append('\n')
    h.bins.foreach { case (lo, hi, ndv) =>
      sb.append(lo).append(',').append(hi).append(',').append(ndv).append('\n')
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private[sources] def decodeHistogram(
      payload: Array[Byte]): Option[EquiHeightHistogram] =
    try {
      val lines = new String(payload,
        java.nio.charset.StandardCharsets.UTF_8).split("\n").toSeq
        .filter(_.nonEmpty)
      if (lines.headOption.contains("v1") && lines.size >= 3)
        Some(EquiHeightHistogram(lines(1).toDouble,
          lines.drop(2).map { l =>
            val Array(lo, hi, ndv) = l.split(",", 3)
            (lo.toDouble, hi.toDouble, ndv.toLong)
          }))
      else None
    } catch { case _: Exception => None }

  /** Marker file that makes a directory a namespace (and carries its
    * properties). Dot-prefixed so the table-document globs never see it.
    */
  private[sources] val NamespaceMarker = ".namespace"

  /** Serializes namespace CRUD within the JVM (cross-driver namespace
    * races are benign: creation is an atomic marker write, drop re-checks
    * emptiness under the lock and directory removal is refused non-empty).
    */
  private[sources] val nsLock = new Object

  /** The authoritative current-snapshot pointer of each table — the one
    * piece of catalog state that must be transactional across drivers.
    * Everything else (snapshot documents, schemas) is immutable
    * write-once data addressed BY the pointer, so it needs no
    * coordination. This is exactly Iceberg's catalog contract: a catalog
    * is "a place to atomically swap a table's metadata pointer", whether
    * that place is a file, a SQL row (the reference's `SqlCatalog`,
    * `compaction/mod.rs:183-202`), or a metastore entry.
    */
  /** One partition-spec field: `transform(source) AS name` — the catalog
    * rendering of Iceberg's `PartitionField` (`iceberg.proto:47-57`).
    * Transform strings are the wire names (§2.6): `identity`, `year`,
    * `month`, `day`, `hour`, `bucket[n]`, `truncate[w]`, `void`.
    */
  final case class PartitionFieldDef(name: String, transform: String, source: String)

  /** A data file an EXTERNAL writer commits through [[GraftCatalog.commitAppendAt]]
    * (the REST facade's commit body). Counts may be unknown (-1), like any
    * entry committed by a non-counting path.
    */
  /** [[GraftCatalog.statsChurn]]'s report: entry movement since the
    * recorded statistics snapshot. `stale` = the sketches are no longer
    * an accurate estimate and only a full re-analyze repairs them.
    */
  final case class StatsChurn(
      statsSnapshotId: Long,
      removedDataFiles: Int,
      addedDeleteFiles: Int,
      removedDeleteFiles: Int,
      addedDataFiles: Int,
      baseExpired: Boolean) {
    def stale: Boolean =
      removedDataFiles > 0 || addedDeleteFiles > 0 ||
        removedDeleteFiles > 0 || baseExpired
  }

  final case class AddedFile(
      path: String,
      format: String = "parquet",
      recordCount: Long = -1L,
      sizeBytes: Long = -1L,
      // per-file column bounds the writer accumulated (DSv2 doorway
      // writers stream them in the commit message); empty = no stats —
      // the file simply never prunes
      colMins: Map[String, String] = Map.empty,
      colMaxs: Map[String, String] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty)

  /** Iceberg-style snapshot summary (operation + file/record deltas),
    * derived by [[GraftCatalog.snapshotSummary]]. Record deltas are None
    * when any participating data file was committed uncounted — a partial
    * sum presented as the total would be silently wrong.
    */
  final case class SnapshotSummary(
      operation: String,
      addedDataFiles: Long,
      removedDataFiles: Long,
      addedDeleteFiles: Long,
      removedDeleteFiles: Long,
      addedRecords: Option[Long],
      removedRecords: Option[Long])

  trait HeadStore {
    def exists(table: String): Boolean

    /** Register a new table at snapshot `id`; fails if it already exists. */
    def create(table: String, id: Long): Unit

    def read(table: String): Long

    /** Atomically advance `expected → next`; false when another committer
      * moved the pointer first (the optimistic-commit conflict signal).
      */
    def cas(table: String, expected: Long, next: Long): Boolean

    /** Deregister a table's pointer ([[GraftCatalog.dropTable]]). Removing
      * a pointer that does not exist is a no-op — drops must be replayable
      * after a crash between pointer removal and metadata deletion.
      */
    def remove(table: String): Unit
  }

  // ---- process-wide head-store bindings by catalog root -------------------
  // `new GraftCatalog(root)` happens per statement all over the DSv2
  // doorway; a doorway catalog mounted with a SQL-backed pointer
  // (spark.sql.catalog.<g>.headstore=pg|jdbc) binds its root here once at
  // initialize, and every subsequent construction resolves the store from
  // the registry — no threading through the dozens of construction sites.
  // ONE store instance per root (stores hold a live DB connection; their
  // methods self-synchronize, and cross-process safety comes from the
  // database row, not this JVM). Re-binding with the same config key is a
  // no-op; a DIFFERENT key replaces the factory and closes the old store.

  private final case class StoreBinding(key: Any, factory: () => HeadStore)
  private val storeBindings =
    new java.util.concurrent.ConcurrentHashMap[String, StoreBinding]()
  private val storeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, HeadStore]()

  private def normRoot(root: String): String = root.stripSuffix("/")

  /** Bind `root`'s pointer store. `key` identifies the CONFIGURATION (host/
    * port/url/catalog-name tuple): same key = idempotent re-initialize,
    * different key = replace (old memoized store closed when closeable).
    */
  def bindHeadStore(root: String, key: Any, factory: () => HeadStore): Unit =
    storeBindings.synchronized {
      val r = normRoot(root)
      Option(storeBindings.get(r)) match {
        case Some(b) if b.key == key => ()
        case _ =>
          storeBindings.put(r, StoreBinding(key, factory))
          closeMemo(r)
      }
    }

  /** Remove `root`'s binding and close its memoized store — test/teardown
    * hygiene; subsequent constructions fall back to the file pointer.
    */
  def unbindHeadStore(root: String): Unit = storeBindings.synchronized {
    storeBindings.remove(normRoot(root))
    closeMemo(normRoot(root))
  }

  private def closeMemo(r: String): Unit =
    Option(storeMemo.remove(r)).foreach {
      case c: AutoCloseable =>
        try c.close() catch { case _: Exception => () }
      case _ => ()
    }

  private[sources] def headStoreFor(root: String): Option[HeadStore] = {
    val r = normRoot(root)
    // memoize UNDER the same lock bind/unbind take: a lock-free
    // computeIfAbsent racing a rebind could memoize a store built from the
    // STALE factory after closeMemo already ran (that store then outlives
    // its binding — use-after-close for every later pointer read), and a
    // rebind could close a store a racing construction was about to hand
    // out. Inside the lock, the binding read, factory call, and memo write
    // are atomic with respect to bind/unbind; the memo hit path is a map
    // get on an uncontended monitor — negligible at statement rate.
    storeBindings.synchronized {
      Option(storeMemo.get(r)).orElse(
        Option(storeBindings.get(r)).map { b =>
          val s = b.factory()
          storeMemo.put(r, s)
          s
        })
    }
  }

  /** A fresh fork's creation head — the one snapshot id [[forkTable]]
    * seeds ([[GraftCatalog.forkTable]] `createHead`) and the deferred
    * `spark.wap.branch` row-level commit asserts as its base. ONE
    * definition: the two must never drift apart, or every deferred wap
    * commit would assert (or retire) the wrong snapshot.
    */
  val ForkInitialSnapshotId: Long = 1L
}
