package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed layer tables with crash-safe overwrite (reference C6 —
  * per-procedure transactions; SURVEY.md §7.6.4).
  *
  * One commit protocol: a table is the live directory `<root>/<table>`,
  * and every write that replaces content lands whole in a temp directory
  * first and publishes by atomic DIRECTORY rename (one metadata op, no
  * file listing). [[overwrite]] and [[overwriteVersioned]] swap the whole
  * table, [[replacePartitions]] swaps one top-level partition at a time,
  * and [[append]] adds files to the live directory. A crash between a
  * swap's two renames leaves the displaced version parked (`.old_<table>`,
  * a snapshot, or `.old_part/<table>/<partition>`); the one recovery
  * sweep, [[settle]], runs at the start of every public entry point and
  * puts parked versions back before anything reads or writes the table.
  * Single writer per table.
  */
final class TableStore(spark: SparkSession, root: String) {
  Files.createDirectories(Paths.get(root))

  /** Per table, the data-file set of its last write by THIS instance and
    * the schema those files were written with — see [[read]].
    */
  private val committed = new ConcurrentHashMap[String, (Set[String], StructType)]()

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = {
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
    * set and the read infers. Partitioned tables always infer.
    */
  def read(table: String): DataFrame = {
    settle(table)
    val reader = Option(committed.get(table)) match {
      case Some((files, schema)) if dataFiles(table).contains(files) =>
        spark.read.schema(schema)
      case _ => spark.read
    }
    reader.parquet(path(table))
  }

  /** The recovery sweep every public entry point runs first, serialized
    * per store (the writes of one Runner call run concurrently, and two
    * threads must never replay the same crash recovery's moves):
    *
    *  1. [[recoverSwap]] settles a crash inside a whole-table swap.
    *  1. Partitions parked by a crash inside [[replacePartitions]] (each
    *     exists only as its `.old_part/<table>/` side-dir between the two
    *     moves) are restored; a park whose partition already landed is
    *     stale and dropped. Parks are matched exactly by table name, so
    *     `t` never adopts `t_log`'s.
    *  1. A live dir holding no data file — only `_`/`.`-prefixed files —
    *     is dropped, so [[exists]] reports the truth: no committed data.
    *     Spark writes no part file for a zero-row PARTITIONED write, only
    *     `_SUCCESS`, and a crash before a replacement's first partition
    *     landed leaves the dir empty; either would make [[read]] fail on
    *     schema inference. A `.old_` park is stale once live exists and
    *     goes first, or the next sweep would restore it. A versioned
    *     table keeps such a dir: live missing beside snapshots reads as
    *     [[rollback]]'s crash window and would restore the newest one.
    *
    * So no reader or writer — including the streaming store folds, which
    * must see the CURRENT state before planning a batch — can miss a
    * parked partition's rows or let a stale park outlive a full overwrite.
    */
  private def settle(table: String): Unit = synchronized {
    recoverSwap(table)
    val parkRoot = parkDir(table)
    if (Files.exists(parkRoot)) {
      val parked = Files.list(parkRoot)
      try parked.forEach { stale =>
        val live = Paths.get(path(table)).resolve(stale.getFileName)
        Files.createDirectories(live.getParent)
        if (!Files.exists(live)) Files.move(stale, live, StandardCopyOption.ATOMIC_MOVE)
        else deleteRecursively(stale)
      }
      finally parked.close()
      deleteRecursively(parkRoot)
    }
    val live = Paths.get(path(table))
    if (Files.exists(live) && dataFiles(table).contains(Set.empty) &&
        versions(table).isEmpty) {
      deleteRecursively(Paths.get(s"$root/.old_$table"))
      deleteRecursively(live)
    }
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
    settle(table)
    val before = if (partitionBy.isEmpty) dataFiles(table) else None
    writeParquet(df.write.mode(SaveMode.Append), partitionBy, path(table))
    remember(table, df.schema, before)
  }

  /** Atomic full overwrite: write temp, swap, drop old. */
  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val old = Paths.get(s"$root/.old_$table")
    swapIn(table, df, partitionBy) { live =>
      deleteRecursively(old)
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursively(old)
  }

  /** The one temp-write step of [[overwrite]] and [[overwriteVersioned]]:
    * settles the table first (a leftover `.old_part/` park from a crashed
    * [[replacePartitions]] would otherwise outlive the new version, and a
    * later sweep would "restore" the stale partition into it), writes `df`
    * whole into `.tmp_<table>`, lets `park` move the live dir aside (when
    * there is one) and renames the finished temp into its place. The
    * park runs only after the temp write completed — [[recoverSwap]]
    * reads a parked version beside a temp as proof the temp is whole.
    */
  private def swapIn(table: String, df: DataFrame, partitionBy: Seq[String])(
      park: Path => Unit): Unit = {
    settle(table)
    val tmp = Paths.get(s"$root/.tmp_$table")
    writeTemp(tmp, df, partitionBy)
    val live = Paths.get(path(table))
    if (Files.exists(live)) park(live)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    remember(table, df.schema, if (partitionBy.isEmpty) Some(Set.empty) else None)
  }

  /** Writes `df` whole into the temp dir `tmp`, first clearing whatever a
    * crashed earlier call left there.
    */
  private def writeTemp(tmp: Path, df: DataFrame, partitionBy: Seq[String]): Unit = {
    deleteRecursively(tmp)
    writeParquet(df.write.mode(SaveMode.Overwrite), partitionBy, tmp.toString)
  }

  private def writeParquet(w: DataFrameWriter[Row], partitionBy: Seq[String],
      dir: String): Unit =
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)

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
    *
    * A versioned table is never partitioned: a zero-row partitioned
    * write lands only `_SUCCESS`, and beside snapshots the sweep must
    * keep such a dir (a missing live dir there is [[rollback]]'s crash
    * window), so it would read as an uninferable table.
    */
  def overwriteVersioned(table: String, df: DataFrame, keep: Int = 3): Long = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    var snapped = 0L
    swapIn(table, df, Nil) { live =>
      snapped = versions(table).lastOption.getOrElse(0L) + 1
      Files.createDirectories(snapDir(table))
      Files.move(live, snapDir(table).resolve(s"v$snapped"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    versions(table).dropRight(keep)
      .foreach(v => deleteRecursively(snapDir(table).resolve(s"v$v")))
    snapped
  }

  /** Retained snapshot ids of `table`, ascending (oldest first). */
  def versions(table: String): Seq[Long] = {
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
    *
    * `subPartitionCols` lay out nested partition dirs INSIDE each
    * replaced `partitionCol` partition (e.g. `__applied=3/__bucket=7/`):
    * replacement granularity — and crash atomicity — stays at the
    * top-level partition, while readers filtering on a sub-column get
    * directory-level pruning across every batch partition (the
    * bucketed-store layout: read O(touched buckets), append O(batch)).
    */
  def replacePartitions(table: String, df: DataFrame, partitionCol: String,
      subPartitionCols: Seq[String] = Nil): Unit = {
    // recover from a crash inside a previous call BEFORE planning this
    // replacement, or the new df would be computed from (and then
    // permanently bake in) the truncated table
    settle(table)
    val tmp = Paths.get(s"$root/.tmp_part_$table")
    writeTemp(tmp, df, partitionCol +: subPartitionCols)
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

  /** Driver-side scalar watermark, crash-safe without a Spark job: the
    * value lives in ONE small file published by atomic single-file move,
    * so a reader sees the old value or the new one, never a torn
    * write. This is the streaming folds' committed-batch marker, read
    * and written only by [[graft.streaming.Maintain.once]].
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

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    }
}
