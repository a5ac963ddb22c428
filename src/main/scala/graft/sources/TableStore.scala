package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed layer tables with crash-safe overwrite (reference C6 —
  * per-procedure transactions; SURVEY.md §7.6.4).
  *
  * Two commit protocols, selected at construction:
  *
  *  - [[TableStore.RenameCommit]] (default): writes land in a temp
  *    directory and publish via atomic DIRECTORY rename — the local-FS
  *    fast path (one metadata op, no file listing). Crash windows
  *    between the paired renames are settled by the recovery sweeps
  *    every entry point runs ([[recoverSwap]]/[[recoverPartitions]]).
  *  - [[TableStore.ManifestCommit]]: the object-store-safe protocol.
  *    S3/GCS-class stores have no atomic directory rename, so data
  *    files are written into never-renamed, never-mutated uuid'd
  *    directories (invisible to readers), and visibility flips by
  *    publishing ONE small manifest file via an atomic single-file
  *    move — the local-FS model of an object store's atomic pointer
  *    PUT. Readers resolve the highest manifest id; a crash anywhere
  *    before the publish leaves the previous manifest current, so NO
  *    recovery logic exists in this mode at all. Each manifest lists
  *    (data dir, partition binding) entries; [[replacePartitions]]
  *    rebinds values in ONE manifest write, making multi-partition
  *    replacement atomic as a unit (strictly stronger than rename
  *    mode's per-partition atomicity). Old manifests double as
  *    snapshots (time travel = read an older manifest); data dirs
  *    unreferenced by any retained manifest are garbage-collected only
  *    AFTER the new manifest is durable. Single writer per table, as in
  *    rename mode; partition values must be scalar (no commas/tabs/
  *    newlines — ours are batch ids, bucket ids, centroid ids).
  */
final class TableStore(spark: SparkSession, root: String,
    commit: TableStore.Commit = TableStore.RenameCommit) {
  Files.createDirectories(Paths.get(root))

  private val manifestMode: Boolean = commit == TableStore.ManifestCommit

  /** Per table, the data-file set of its last write by THIS instance and
    * the schema those files were written with — see [[read]].
    */
  private val committed = new ConcurrentHashMap[String, (Set[String], StructType)]()

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean =
    if (manifestMode) currentManifest(table).exists(_.entries.nonEmpty)
    else {
      settle(table)
      Files.exists(Paths.get(path(table)))
    }

  /** Reads the table's current version. Spark infers a parquet schema with
    * a job per read; a version this instance provably committed skips it.
    * The proof is the file set: part-file names carry a per-write UUID and
    * files are never mutated, so a live data-file set equal to the one this
    * instance recorded at its last write holds exactly the rows written
    * with the recorded schema. A write by anyone else (another instance or
    * process on this root, a rollback, a partition replace) changes the
    * set and the read infers. Partitioned tables and manifest mode always
    * infer.
    */
  def read(table: String): DataFrame =
    if (manifestMode) {
      val m = currentManifest(table).getOrElse(
        throw new IllegalArgumentException(s"table $table does not exist"))
      readManifest(table, m)
    } else {
      settle(table)
      val reader = Option(committed.get(table)) match {
        case Some((files, schema)) if dataFiles(table).contains(files) =>
          spark.read.schema(schema)
        case _ => spark.read
      }
      reader.parquet(path(table))
    }

  /** Runs both recovery sweeps. Serialized per store: the writes of one
    * Runner call run concurrently, and two threads must never replay the
    * same crash recovery's moves.
    */
  private def settle(table: String): Unit = synchronized {
    recoverSwap(table)
    recoverPartitions(table)
  }

  /** Names of the table's live data files, or None when the layout is
    * partitioned (any subdirectory). A missing table has no files.
    */
  private def dataFiles(table: String): Option[Set[String]] = {
    val live = Paths.get(path(table))
    if (!Files.exists(live)) return Some(Set.empty)
    val ls = Files.list(live)
    val entries = try ls.toArray.map(_.asInstanceOf[Path]).toSeq finally ls.close()
    if (entries.exists(Files.isDirectory(_))) None
    else Some(entries.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet)
  }

  /** Records the schema of a finished write, given the data files the
    * table held before it (None for a partitioned write, which is never
    * recorded). An append keeps the record only when every earlier file is
    * this instance's, written with the same schema; otherwise, or when the
    * write left no data file, the table goes back to inference.
    */
  private def remember(table: String, schema: StructType,
      before: Option[Set[String]]): Unit = {
    val own = before.exists(b => b.isEmpty ||
      Option(committed.get(table)).contains((b, schema)))
    dataFiles(table).filter(files => own && files.nonEmpty) match {
      case Some(files) => committed.put(table, (files, schema))
      case None => committed.remove(table)
    }
  }

  /** Recover from a crash inside [[overwrite]] / [[overwriteVersioned]] /
    * [[rollback]]'s swap window. Each of those moves the live directory
    * aside (to `.old_<table>` or a snapshot) BEFORE moving the finished
    * temp directory in, so a crash between the two moves leaves the table
    * absent — and a reader that trusted the raw listing would conclude
    * "no table" and silently rebuild state from scratch (losing, e.g.,
    * every historical band key in a dedup store). The parked directories
    * disambiguate: the live→parked move only runs after the temp write
    * completed, so `live missing + .tmp_ present + (.old_ or snapshot
    * present)` proves the new version is whole — publish it. A parked
    * `.old_` with no finished temp restores the old version; a missing
    * live with only snapshots left is a crash between [[rollback]]'s two
    * moves — the displaced current sits as the newest snapshot, restore
    * it (reversing the half-done rollback; the caller re-issues). A
    * first-ever write that crashed mid-write (live never existed, no
    * parked dirs) is left alone: its temp may be partial.
    *
    * The "finished temp" inference is sound because every swap-window
    * entry point ([[overwrite]] / [[overwriteVersioned]] / [[rollback]])
    * first settles any interrupted swap via this method and clears stale
    * temps before doing its own moves — so a temp coexisting with a
    * parked dir can only have come from the same interrupted call, after
    * its write completed.
    */
  private def recoverSwap(table: String): Unit = {
    val live = Paths.get(path(table))
    if (Files.exists(live)) return
    val tmp = Paths.get(s"$root/.tmp_$table")
    val old = Paths.get(s"$root/.old_$table")
    val snaps = versions(table)
    if (Files.exists(tmp) && (Files.exists(old) || snaps.nonEmpty)) {
      Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    } else if (Files.exists(old)) {
      Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
    } else if (snaps.nonEmpty) {
      Files.move(snapDir(table).resolve(s"v${snaps.last}"), live,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Append a batch (the reference's INSERT INTO … SELECT).
    *
    * Settles any interrupted swap/partition-replace FIRST: after a crash
    * inside [[overwrite]]/[[compact]]'s swap window the live dir sits
    * parked in `.old_`/a snapshot, and an append that blindly wrote would
    * recreate the live dir with only the new batch — after which every
    * recovery no-ops (live exists) and the full pre-crash table is
    * stranded in the parked dirs. Tables that are both appended and
    * compacted (log tables, staging) hit exactly this window.
    */
  def append(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    if (manifestMode) {
      // Entry-growth note: every manifest-mode append (and partition
      // replacement) adds ONE entry, and a read plans one scan per entry
      // — a high-frequency micro-batch table should periodically
      // [[compact]], which reads through the manifest and overwrites,
      // folding all entries into one.
      val dir = writeDataDir(table, df, partitionBy)
      // C1 convention: a zero-row append lands nothing — binding a
      // data-file-less dir would crash every reader on schema inference
      if (!dirHasData(table, dir)) { dropDataDir(table, dir); return }
      val prev = currentManifest(table)
      publishManifest(table, prev.map(_.id + 1).getOrElse(1L),
        prev.map(_.keep).getOrElse(0),
        prev.map(_.entries).getOrElse(Nil) :+ MEntry(dir, None, None, Nil))
      return
    }
    settle(table)
    val before = if (partitionBy.isEmpty) dataFiles(table) else None
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(table))
    remember(table, df.schema, before)
  }

  /** Atomic full overwrite: write temp, swap, drop old. */
  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    if (manifestMode) {
      val dir = writeDataDir(table, df, partitionBy)
      val prev = currentManifest(table)
      // an empty overwrite publishes ZERO entries: the table reads as
      // nonexistent (exists() false), never as an uninferable-schema dir
      val entries =
        if (dirHasData(table, dir)) Seq(MEntry(dir, None, None, Nil))
        else { dropDataDir(table, dir); Nil }
      publishManifest(table, prev.map(_.id + 1).getOrElse(1L),
        prev.map(_.keep).getOrElse(0), entries)
      return
    }
    // settle parked partitions BEFORE replacing the table: a leftover
    // .old_part/ park from a crashed replacePartitions would otherwise
    // outlive this overwrite and a later recovery would "restore" the
    // stale partition into the brand-new table
    settle(table)
    val tmp = Paths.get(s"$root/.tmp_$table")
    deleteRecursively(tmp)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    val live = Paths.get(path(table))
    val old = Paths.get(s"$root/.old_$table")
    deleteRecursively(old)
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
    remember(table, df.schema, if (partitionBy.isEmpty) Some(Set.empty) else None)
  }

  // --- Snapshot versioning (time travel / rollback) -----------------------

  private def snapDir(table: String): Path = Paths.get(s"$root/.snap_$table")

  /** Like [[overwrite]], but the displaced current version is RETAINED as
    * a numbered snapshot instead of deleted — the time-travel / rollback
    * primitive (Iceberg-style snapshot retention at parquet-directory
    * grade: a snapshot is one atomic rename, no data copy, and old
    * readers holding the previous file listing keep reading their files
    * untouched). Keeps the newest `keep` snapshots, prunes older ones.
    * Returns the snapshot id the displaced version received (0 when the
    * table didn't exist yet).
    */
  def overwriteVersioned(table: String, df: DataFrame, keep: Int = 3,
      partitionBy: Seq[String] = Nil): Long = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    if (manifestMode) {
      // the displaced current manifest IS the snapshot: nothing moves,
      // retention just stops pruning the last `keep` manifests
      val dir = writeDataDir(table, df, partitionBy)
      val prev = currentManifest(table)
      val entries =
        if (dirHasData(table, dir)) Seq(MEntry(dir, None, None, Nil))
        else { dropDataDir(table, dir); Nil }
      publishManifest(table, prev.map(_.id + 1).getOrElse(1L), keep, entries)
      return prev.map(_.id).getOrElse(0L)
    }
    settle(table)
    val tmp = Paths.get(s"$root/.tmp_$table")
    deleteRecursively(tmp)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    val live = Paths.get(path(table))
    var snapped = 0L
    if (Files.exists(live)) {
      snapped = versions(table).lastOption.getOrElse(0L) + 1
      Files.createDirectories(snapDir(table))
      Files.move(live, snapDir(table).resolve(s"v$snapped"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    remember(table, df.schema, if (partitionBy.isEmpty) Some(Set.empty) else None)
    versions(table).dropRight(keep)
      .foreach(v => deleteRecursively(snapDir(table).resolve(s"v$v")))
    snapped
  }

  /** Retained snapshot ids of `table`, ascending (oldest first). */
  def versions(table: String): Seq[Long] = {
    if (manifestMode) return {
      val cur = manifestIds(table).lastOption.getOrElse(0L)
      manifestIds(table).filter(_ < cur)
    }
    val d = snapDir(table)
    if (!Files.exists(d)) Seq.empty
    else {
      val it = Files.list(d).iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith("v")) buf += name.drop(1).toLong
      }
      buf.sorted.toSeq
    }
  }

  /** Time-travel read of snapshot `v` (an id from [[versions]]). */
  def readVersion(table: String, v: Long): DataFrame = {
    if (manifestMode) {
      // versions(), not manifestIds(): the CURRENT manifest is the live
      // table, not a snapshot — accepting it here would diverge from
      // rename mode (and from this error message's listed set)
      require(versions(table).contains(v),
        s"$table has no snapshot v$v; have ${versions(table)}")
      return readManifest(table, parseManifest(table, v))
    }
    val p = snapDir(table).resolve(s"v$v")
    require(Files.exists(p), s"$table has no snapshot v$v; have ${versions(table)}")
    spark.read.parquet(p.toString)
  }

  /** Roll `table` back to snapshot `v`: the current version is snapshotted
    * first (so the rollback itself is undoable), then `v` becomes current
    * — two renames, no data copied or recomputed. `v` leaves the snapshot
    * list (it IS the table again). Returns the snapshot id the displaced
    * current version received.
    */
  def rollback(table: String, v: Long): Long = {
    if (manifestMode) {
      // undoing is one more manifest whose entries are the target's —
      // no data moves, and the displaced current stays readable as its
      // own manifest id
      require(versions(table).contains(v),
        s"$table has no snapshot v$v; have ${versions(table)}")
      val target = parseManifest(table, v)
      val cur = currentManifest(table).get
      publishManifest(table, cur.id + 1, cur.keep, target.entries)
      return cur.id
    }
    // settle any interrupted swap first (else a mid-swap table reads as
    // "never existed" and its recoverable current version is lost), and
    // clear a stale partial temp from a crashed write: rollback itself
    // never uses the temp, and leaving one parked would let a LATER
    // crash inside this method's swap window trick [[recoverSwap]] into
    // publishing the stale temp as the live table
    settle(table)
    deleteRecursively(Paths.get(s"$root/.tmp_$table"))
    val snap = snapDir(table).resolve(s"v$v")
    require(Files.exists(snap), s"$table has no snapshot v$v; have ${versions(table)}")
    val live = Paths.get(path(table))
    var snapped = 0L
    if (Files.exists(live)) {
      snapped = versions(table).last + 1
      Files.move(live, snapDir(table).resolve(s"v$snapped"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(snap, live, StandardCopyOption.ATOMIC_MOVE)
    snapped
  }

  /** Compact a table's small files. Micro-batch appends (per-Load_id
    * staging, the streaming warehouse sink) leave one file set per batch;
    * at warehouse scale the accumulated small files throttle scan
    * parallelism and metadata handling. Rewrites the table into
    * ceil(rows / targetRowsPerFile) files — partition-local when the
    * table is partitioned — through the same atomic swap as [[overwrite]],
    * so readers never observe a half-compacted table.
    */
  def compact(table: String, targetRowsPerFile: Long,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val df = read(table)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val repacked =
      if (partitionBy.nonEmpty) df.repartition(nFiles, partitionBy.map(col): _*)
      else df.repartition(nFiles)
    overwrite(table, repacked, partitionBy)
  }

  /** Overwrite with a range-clustered layout: rows are range-partitioned
    * and sorted by `clusterBy`, so each parquet file covers a narrow,
    * disjoint key range and row-group min/max stats let a selective scan
    * decode only the files that can match (see TableStoreSpec for the
    * measured skip). The single-key analog of z-ordering; at warehouse
    * scale this is what turns a point/range query on a non-partition
    * column from a full scan into a handful of row groups.
    */
  def overwriteClustered(table: String, df: DataFrame, clusterBy: Seq[String],
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = clusterBy.map(col)
    overwrite(table,
      df.repartitionByRange(nFiles, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Replace ONLY the partitions present in `df`, each through the same
    * temp-write + atomic directory swap as [[overwrite]] — the repair/
    * backfill primitive: rewrite a handful of affected partitions of a
    * 100 TB fact instead of the whole table. `df` must carry COMPLETE
    * replacement data for every partition value it contains; untouched
    * partitions are untouched bytes. Atomicity is per partition: a crash
    * between swaps leaves each partition old, new, or parked in its
    * `.old_part/<table>/` side-dir — the recovery sweep at the next call
    * restores parked partitions before anything reads the table, so no
    * state is ever lost (never mixed, never silently absent at repair
    * time).
    */
  /** Recover a table from a crash inside a previous [[replacePartitions]]
    * call: between its two moves a partition exists only as its parked
    * `.old_part/<table>/` side-dir — restore every such partition, then drop a
    * live dir left EMPTY by a crash before the first partition landed
    * (so [[exists]] reports the truth: no committed data). EVERY public
    * entry point ([[read]]/[[exists]]/[[append]]/[[overwrite]]/
    * [[overwriteVersioned]]/[[rollback]]/[[replacePartitions]]) runs
    * this first, so no reader or writer — including the streaming store
    * folds, which must see the CURRENT state before planning a batch —
    * can ever miss a parked partition's rows or let a stale park outlive
    * a full overwrite.
    */
  def recoverPartitions(table: String): Unit = {
    if (manifestMode) return // no rename windows exist to recover
    // parks live under a PER-TABLE side directory (`.old_part/<table>/
    // <sub>`), matched exactly by name — a shared prefix scheme
    // (`.old_part_<t>_...`) let table `t` adopt `t_log`'s parked
    // partitions after a crash, since `_` both separates and occurs in
    // table names
    val parkRoot = parkDir(table)
    if (Files.exists(parkRoot)) {
      val parked = Files.list(parkRoot)
      try parked.forEach { stale =>
        val sub = stale.getFileName.toString
        val live = Paths.get(s"${path(table)}/$sub")
        Files.createDirectories(Paths.get(path(table)))
        if (!Files.exists(live)) Files.move(stale, live, StandardCopyOption.ATOMIC_MOVE)
        else deleteRecursively(stale)
      }
      finally parked.close()
      deleteRecursively(parkRoot)
    }
    val live = Paths.get(path(table))
    if (Files.exists(live)) {
      val ls = Files.list(live)
      val empty = try !ls.iterator().hasNext finally ls.close()
      if (empty) Files.delete(live)
    }
  }

  /** `subPartitionCols` lay out nested partition dirs INSIDE each
    * replaced `partitionCol` partition (e.g. `__applied=3/__bucket=7/`):
    * replacement granularity — and crash atomicity — stays at the
    * top-level partition, while readers filtering on a sub-column get
    * directory-level pruning across every batch partition (the
    * bucketed-store layout: read O(touched buckets), append O(batch)).
    */
  def replacePartitions(table: String, df: DataFrame, partitionCol: String,
      subPartitionCols: Seq[String] = Nil): Unit = {
    if (manifestMode) {
      // write once, then rebind every replaced partition value in ONE
      // manifest publish: existing Include entries drop the values,
      // whole-dir/Exclude entries add them to their exclusion list, and
      // the new dir binds exactly the written values — so readers flip
      // from none of the new partitions to all of them atomically
      val dir = writeDataDir(table, df, partitionCol +: subPartitionCols)
      val dirPath = Paths.get(s"$root/${dataDirName(table)}/$dir")
      val walk = Files.list(dirPath)
      val vals =
        try walk.toArray.map(_.asInstanceOf[Path].getFileName.toString)
          .filter(_.startsWith(s"$partitionCol=")).toSeq
          // directory names are Hive-ESCAPED ("a b" -> "a%20b") but the
          // manifest binds against the UNESCAPED column values readers
          // filter on — comparing escaped to unescaped would make every
          // special-character partition silently invisible
          .map(v => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(v.drop(partitionCol.length + 1)))
        finally walk.close()
      require(!vals.contains("__HIVE_DEFAULT_PARTITION__"),
        s"manifest mode cannot bind NULL partition values of $partitionCol " +
          "(an Exclude filter never matches null) — filter nulls out or " +
          "map them to a sentinel before writing")
      if (vals.isEmpty) { deleteRecursively(dirPath); return }
      val prev = currentManifest(table)
      // ONE partition column per manifest table: an entry already bound
      // to a different column cannot be rebound (its Include values are
      // the OLD column's — reinterpreting them against the new column
      // would silently keep/drop the wrong rows)
      prev.map(_.entries).getOrElse(Nil).foreach { e =>
        require(e.partCol.forall(_ == partitionCol),
          s"manifest-mode table $table is partition-bound to " +
            s"${e.partCol.get}; replacePartitions($partitionCol) would " +
            "corrupt its bindings — one partition column per table")
      }
      val rebound = prev.map(_.entries).getOrElse(Nil).flatMap { e =>
        e.partCol match {
          case Some(pc) if pc == partitionCol && e.only.isDefined =>
            val left = e.only.get.filterNot(vals.contains)
            if (left.isEmpty) None else Some(e.copy(only = Some(left)))
          case _ =>
            Some(e.copy(partCol = Some(partitionCol),
              except = (e.except ++ vals).distinct))
        }
      }
      publishManifest(table, prev.map(_.id + 1).getOrElse(1L),
        prev.map(_.keep).getOrElse(0),
        rebound :+ MEntry(dir, Some(partitionCol), Some(vals), Nil))
      return
    }
    // recover from a crash inside a previous call BEFORE planning this
    // replacement, or the new df would be computed from (and then
    // permanently bake in) the truncated table
    recoverPartitions(table)
    val tmp = Paths.get(s"$root/.tmp_part_$table")
    deleteRecursively(tmp)
    df.write.mode(SaveMode.Overwrite)
      .partitionBy((partitionCol +: subPartitionCols): _*).parquet(tmp.toString)
    val walk = Files.list(tmp)
    val parts =
      try walk.filter(p => p.getFileName.toString.startsWith(s"$partitionCol="))
        .toArray.map(_.asInstanceOf[Path]).toSeq
      finally walk.close()
    // only materialize the table dir when there is data to land: an empty
    // dir would make exists() true but read() fail on schema inference
    if (parts.nonEmpty) Files.createDirectories(Paths.get(path(table)))
    parts.foreach { part =>
      val sub = part.getFileName.toString
      val live = Paths.get(s"${path(table)}/$sub")
      val old = parkDir(table).resolve(sub)
      deleteRecursively(old)
      if (Files.exists(live)) {
        Files.createDirectories(parkDir(table))
        Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
      }
      Files.move(part, live, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    }
    deleteRecursively(tmp)
  }

  /** Per-table side directory holding partitions parked mid-swap by
    * [[replacePartitions]] — matched EXACTLY by table name, so no table's
    * crash recovery can adopt another's parked partitions.
    */
  private def parkDir(table: String): Path = Paths.get(s"$root/.old_part/$table")

  /** Highest applied batch id recorded in `markerCol` of `table`, or −1
    * when the table is absent/empty — the replay guard every streaming
    * fold reads before touching a batch (at-least-once micro-batch
    * delivery, [[graft.streaming.Maintain]], makes this check the
    * idempotence boundary). Recovers
    * parked partitions first so a crashed fold can't hide the marker.
    */
  def lastAppliedBatch(table: String, markerCol: String = "__applied"): Long = {
    import org.apache.spark.sql.functions.{col, max}
    // exists()/read() settle interrupted swaps AND parked partitions, so
    // a crashed fold can't hide the marker — no extra recovery pass here
    if (!exists(table)) -1L
    else metaPartitionMax(table, markerCol).getOrElse {
      val r = read(table).agg(max(col(markerCol).cast("long"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
  }

  /** Max long value of `partCol` read from LAYOUT METADATA only —
    * partition directory names in rename mode, manifest bindings (or
    * their dirs' partition names) in manifest mode — so the streaming
    * folds' per-batch watermark probe costs a directory listing, not a
    * Spark job over the table. Returns None whenever the layout can't
    * prove the answer (table not partitioned by `partCol`, a non-long
    * partition value, an entry bound to another column): callers fall
    * back to the scan, never guess. Call only after [[exists]] has
    * settled recovery: committed partitions exist exactly as live
    * `partCol=v/` dirs (parked dirs are restored first, and a partition
    * dir is only ever published by a completed atomic move).
    */
  private def metaPartitionMax(table: String, partCol: String): Option[Long] = {
    def parse(v: String): Option[Long] = v.toLongOption
    def dirVals(dir: Path): Option[Seq[Long]] = {
      if (!Files.exists(dir)) return Some(Nil)
      val ls = Files.list(dir)
      val subs = try ls.toArray.map(_.asInstanceOf[Path]).toSeq finally ls.close()
      val parts = subs.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"$partCol="))
      if (parts.isEmpty) None // not laid out by partCol (or data-only dir)
      else {
        val vals = parts.map(p =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(p.getFileName.toString.drop(partCol.length + 1)))
          .map(parse)
        if (vals.forall(_.isDefined)) Some(vals.flatten) else None
      }
    }
    val all: Option[Seq[Long]] =
      if (manifestMode) {
        currentManifest(table).flatMap { m =>
          val per = m.entries.map { e =>
            if (!e.partCol.forall(_ == partCol)) None // bound to another col
            else {
              val base = e.only match {
                case Some(vs) =>
                  val ls = vs.map(parse)
                  if (ls.forall(_.isDefined)) Some(ls.flatten) else None
                case None =>
                  if (e.partCol.isEmpty) None // unbound whole-dir entry
                  else dirVals(Paths.get(s"$root/${dataDirName(table)}/${e.dir}"))
              }
              val exc = e.except.map(parse)
              if (exc.forall(_.isDefined))
                base.map(_.filterNot(exc.flatten.toSet))
              else None
            }
          }
          if (per.forall(_.isDefined)) Some(per.flatten.flatten) else None
        }
      } else dirVals(Paths.get(path(table)))
    all.map(vs => if (vs.isEmpty) -1L else vs.max)
  }

  /** Driver-side scalar watermark, crash-safe without a Spark job: the
    * value lives in ONE small file published by atomic single-file move
    * — the identical primitive both commit modes already rest on (the
    * swap marker in rename mode, the manifest publish in manifest mode)
    * — so a reader sees the old value or the new one, never a torn
    * write. This is the streaming maintainers' applied-batch marker:
    * committing it AFTER the batch's data writes keeps the replay rule
    * ("re-fold anything above the marker") intact at the cost of a file
    * write, where a 1-row marker TABLE paid a Spark write plus a Spark
    * read per fold.
    */
  def putMarker(name: String, value: Long): Unit = {
    val dir = Paths.get(s"$root/.markers")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp_$name")
    Files.writeString(tmp, value.toString)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The marker's current value, or None if never committed. */
  def getMarker(name: String): Option[Long] = {
    val p = Paths.get(s"$root/.markers/$name")
    if (!Files.exists(p)) None
    else Files.readString(p).trim.toLongOption
  }

  /** Number of parquet data files currently backing a table. */
  def dataFileCount(table: String): Long = {
    val roots =
      if (manifestMode)
        currentManifest(table).map(_.entries.map(e =>
          Paths.get(s"$root/${dataDirName(table)}/${e.dir}"))).getOrElse(Nil)
      else Seq(Paths.get(path(table)))
    roots.map { r =>
      val walk = Files.walk(r)
      try walk.filter(p => p.toString.endsWith(".parquet")).count()
      finally walk.close()
    }.sum
  }

  // --- Manifest commit protocol -------------------------------------------

  /** One data-dir reference in a manifest. `partCol`+`only` = Include
    * binding (the dir contributes exactly those top-level partition
    * values); `partCol`+`except` = the dir contributes everything BUT
    * those values (a whole-dir write whose partitions were later
    * replaced); neither = the whole dir.
    */
  private case class MEntry(dir: String, partCol: Option[String],
      only: Option[Seq[String]], except: Seq[String])

  private case class Manifest(id: Long, keep: Int, entries: Seq[MEntry])

  private def manifestDirName(table: String) = s".manifests/$table"
  private def dataDirName(table: String) = s".data/$table"

  /** Write `df` into a fresh, never-again-touched uuid'd dir; invisible
    * to readers until a manifest references it.
    */
  /** True when the freshly-written uuid data dir holds at least one
    * parquet data file. A zero-row write emits only `_SUCCESS`; a
    * manifest entry binding such a dir would crash every reader on
    * schema inference, so empty writes must land nothing (the C1
    * convention the rename-mode partition replace already follows).
    */
  private def dirHasData(table: String, dir: String): Boolean = {
    val p = Paths.get(s"$root/${dataDirName(table)}/$dir")
    val walk = Files.walk(p)
    try {
      val it = walk.iterator()
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        found = Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")
      }
      found
    } finally walk.close()
  }

  private def dropDataDir(table: String, dir: String): Unit =
    deleteRecursively(Paths.get(s"$root/${dataDirName(table)}/$dir"))

  private def writeDataDir(table: String, df: DataFrame,
      partitionBy: Seq[String]): String = {
    val dir = s"w_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$root/${dataDirName(table)}/$dir")
    dir
  }

  private def manifestIds(table: String): Seq[Long] = {
    val d = Paths.get(s"$root/${manifestDirName(table)}")
    if (!Files.exists(d)) Seq.empty
    else {
      val ls = Files.list(d)
      try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(n => n.startsWith("m") && n.endsWith(".manifest"))
        .map(_.stripPrefix("m").stripSuffix(".manifest").toLong)
        .toSeq.sorted
      finally ls.close()
    }
  }

  private def currentManifest(table: String): Option[Manifest] =
    manifestIds(table).lastOption.map(parseManifest(table, _))

  private def parseManifest(table: String, id: Long): Manifest = {
    val p = Paths.get(s"$root/${manifestDirName(table)}/m$id.manifest")
    val lines = Files.readAllLines(p)
    val keep = lines.get(0).stripPrefix("keep=").toInt
    val entries = (1 until lines.size).map(lines.get).filter(_.nonEmpty).map { l =>
      // dir \t partCol|- \t only-csv|* \t except-csv
      val f = l.split("\t", -1)
      MEntry(f(0),
        if (f(1) == "-") None else Some(f(1)),
        if (f(2) == "*") None
        else Some(f(2).split(",", -1).toSeq.filter(_.nonEmpty)),
        f(3).split(",", -1).toSeq.filter(_.nonEmpty))
    }
    Manifest(id, keep, entries.toSeq)
  }

  /** The commit point: write the manifest to a temp file, move it into
    * place as ONE atomic file op (the pointer swap an object store
    * offers), then garbage-collect manifests/data dirs outside the
    * retention window — deletes strictly after the publish, so a crash
    * anywhere leaves either the old or the new manifest current and all
    * its data intact.
    */
  private def publishManifest(table: String, id: Long, keep: Int,
      entries: Seq[MEntry]): Unit = {
    val mdir = Paths.get(s"$root/${manifestDirName(table)}")
    Files.createDirectories(mdir)
    entries.foreach { e =>
      require((e.dir + e.partCol.getOrElse("") +
        (e.only.getOrElse(Nil) ++ e.except).mkString)
        .forall(c => c != '\t' && c != '\n' && c != '\r'),
        s"manifest fields must not contain tabs/newlines: $e")
      require((e.only.getOrElse(Nil) ++ e.except).forall(!_.contains(",")),
        s"partition values must not contain commas: $e")
    }
    val body = (s"keep=$keep" +: entries.map(e =>
      s"${e.dir}\t${e.partCol.getOrElse("-")}\t${
        e.only.map(_.mkString(",")).getOrElse("*")}\t${e.except.mkString(",")}"))
      .mkString("\n")
    val tmp = mdir.resolve(s".tmp_m$id")
    Files.writeString(tmp, body)
    Files.move(tmp, mdir.resolve(s"m$id.manifest"), StandardCopyOption.ATOMIC_MOVE)
    // GC: retain the last keep+1 manifests (current + keep snapshots),
    // drop every data dir none of them references — crashed writes'
    // orphan dirs included
    val ids = manifestIds(table)
    val retained = ids.filter(_ > id - (keep + 1))
    ids.filterNot(retained.contains).foreach(v =>
      Files.deleteIfExists(mdir.resolve(s"m$v.manifest")))
    val referenced = retained.map(parseManifest(table, _))
      .flatMap(_.entries.map(_.dir)).toSet
    val ddir = Paths.get(s"$root/${dataDirName(table)}")
    if (Files.exists(ddir)) {
      val ls = Files.list(ddir)
      val all = try ls.toArray.map(_.asInstanceOf[Path]).toSeq finally ls.close()
      all.filterNot(p => referenced.contains(p.getFileName.toString))
        .foreach(deleteRecursively)
    }
  }

  /** Assemble the DataFrame a manifest describes: per entry, a parquet
    * read of its uuid dir (partition columns discovered natively by
    * Spark relative to the dir), filtered by its Include/Exclude
    * binding — string literals coerce against the discovered partition
    * column type, and both filter shapes prune partition directories at
    * planning time.
    */
  private def readManifest(table: String, m: Manifest): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(m.entries.nonEmpty, s"table $table does not exist")
    m.entries.map { e =>
      val df = spark.read.parquet(s"$root/${dataDirName(table)}/${e.dir}")
      val bound = e.only match {
        case Some(vs) => df.filter(col(e.partCol.get).isInCollection(vs))
        case None if e.except.nonEmpty =>
          df.filter(!col(e.partCol.get).isInCollection(e.except))
        case None => df
      }
      bound
      // allowMissingColumns: a schema-evolved append (new column in a new
      // data dir) must not brick every subsequent read — older dirs read
      // the missing column as null, the same union-by-name relaxation
      // SchemaEvolve gives feed generations
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
}

object TableStore {
  /** Commit protocol — see the class doc. */
  sealed trait Commit
  /** Atomic directory renames; local-FS fast path (the default). */
  case object RenameCommit extends Commit
  /** Immutable data dirs + atomic single-file manifest publish; the
    * protocol an S3/GCS-class store (no atomic directory rename) needs.
    */
  case object ManifestCommit extends Commit
}
