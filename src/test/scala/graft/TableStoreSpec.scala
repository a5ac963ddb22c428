package graft

import java.nio.file.{Files, Paths}

import graft.sources.TableStore

/** Crash-safe table storage (reference C6 per-statement transactionality):
  * overwrite publishes atomically via temp-write + rename, append
  * accumulates batches.
  */
class TableStoreSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  test("overwrite replaces content atomically and leaves no temp dirs") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    store.overwrite("t", Seq(1, 2, 3).toDF("v"))
    assert(store.read("t").count() == 3)
    store.overwrite("t", Seq(10, 20).toDF("v"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(10, 20))
    val leftovers = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(p => p.contains(".tmp_") || p.contains(".old_"))
    assert(leftovers.isEmpty, s"stale swap dirs: ${leftovers.toSeq}")
  }

  test("versioned overwrite retains snapshots, time-travels, prunes, rolls back") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    assert(store.overwriteVersioned("t", Seq(1).toDF("v")) == 0L) // nothing displaced
    assert(store.overwriteVersioned("t", Seq(2).toDF("v")) == 1L)
    assert(store.overwriteVersioned("t", Seq(3).toDF("v")) == 2L)
    assert(store.versions("t") == Seq(1L, 2L))
    assert(store.read("t").as[Int].head() == 3)
    assert(store.readVersion("t", 1).as[Int].head() == 1) // time travel
    assert(store.readVersion("t", 2).as[Int].head() == 2)

    // rollback: current (3) is snapshotted as v3, v1 becomes current again
    assert(store.rollback("t", 1) == 3L)
    assert(store.read("t").as[Int].head() == 1)
    assert(store.versions("t") == Seq(2L, 3L))
    assert(store.readVersion("t", 3).as[Int].head() == 3) // rollback undoable

    // retention: keep=2 prunes the oldest snapshot
    store.overwriteVersioned("t", Seq(4).toDF("v"), keep = 2)
    assert(store.versions("t") == Seq(3L, 4L))
    intercept[IllegalArgumentException](store.readVersion("t", 2))
  }

  test("crash between overwrite's two moves recovers: finished tmp published") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    store.overwrite("t", Seq(1, 2).toDF("v"))
    // simulate overwrite crashing between live->old and tmp->live: the new
    // version sits finished in .tmp_, the old version is parked in .old_
    Seq(10, 20, 30).toDF("v").write.parquet(s"$root/.tmp_t")
    Files.move(Paths.get(s"$root/t"), Paths.get(s"$root/.old_t"))
    assert(store.exists("t"), "recovery must publish the finished tmp")
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    assert(!Files.exists(Paths.get(s"$root/.old_t")))
    assert(!Files.exists(Paths.get(s"$root/.tmp_t")))
  }

  test("parked .old_ with no finished tmp restores the old version") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    store.overwrite("t", Seq(1, 2).toDF("v"))
    Files.move(Paths.get(s"$root/t"), Paths.get(s"$root/.old_t"))
    assert(store.exists("t"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("crash between rollback's two moves restores the displaced current") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    store.overwriteVersioned("t", Seq(1).toDF("v"))
    store.overwriteVersioned("t", Seq(2).toDF("v"))
    // rollback("t", 1) crashed after parking current as v2, before moving
    // v1 in: live is gone, newest snapshot holds the displaced current
    Files.move(Paths.get(s"$root/t"), Paths.get(s"$root/.snap_t/v2"))
    assert(store.exists("t"), "recovery must restore the newest snapshot")
    assert(store.read("t").as[Int].head() == 2)
    assert(store.versions("t") == Seq(1L))
  }

  test("chaos: every overwrite kill window recovers via every next entry point") {
    // enumerate the three states a kill inside overwrite can leave on
    // disk, then drive recovery through each public entry point a
    // restarted process might hit FIRST (read, lastAppliedBatch, append)
    // and assert no path loses data, strands history in parked dirs, or
    // restarts a fold from lastApplied=-1 with history present.
    val v1 = Seq((1, 0L), (2, 0L)).toDF("v", "__applied")
    val v2 = Seq((10, 1L), (20, 1L), (30, 1L)).toDF("v", "__applied")
    def mkState(point: Int): (TableStore, String) = {
      val root = Files.createTempDirectory("graft_chaos").toString
      val store = new TableStore(spark, root)
      store.overwrite("t", v1)
      // overwrite("t", v2) killed at interruption point `point`:
      if (point >= 0) v2.coalesce(1).write.parquet(s"$root/.tmp_t")
      if (point >= 1) Files.move(Paths.get(s"$root/t"), Paths.get(s"$root/.old_t"))
      if (point >= 2) Files.move(Paths.get(s"$root/.tmp_t"), Paths.get(s"$root/t"))
      (store, root)
    }
    // point 0 (before live→old): the overwrite never committed — v1 is
    // the table. points 1, 2: the finished new version must publish.
    val expected = Seq(Set(1, 2), Set(10, 20, 30), Set(10, 20, 30))
    val expectedBatch = Seq(0L, 1L, 1L)
    for (point <- 0 to 2) {
      val (s1, _) = mkState(point)
      assert(s1.read("t").select("v").as[Int].collect().toSet == expected(point),
        s"read after kill at point $point")
      val (s2, _) = mkState(point)
      assert(s2.lastAppliedBatch("t") == expectedBatch(point),
        s"replay guard must never see -1 with history present (point $point)")
      // append must land ON TOP of the recovered table — an append that
      // recreated the live dir with only its own batch would strand the
      // full pre-crash table in the parked dirs forever
      val (s3, _) = mkState(point)
      s3.append("t", Seq((99, 2L)).toDF("v", "__applied"))
      assert(s3.read("t").select("v").as[Int].collect().toSet == expected(point) + 99,
        s"append after kill at point $point")
      assert(s3.lastAppliedBatch("t") == 2L)
    }
  }

  test("chaos: replacePartitions kill windows restore every parked partition") {
    import org.apache.spark.sql.functions.col
    // seed: partitions p=1 {1,2} and p=2 {3}; a replacement for p=2 dies
    // in each of its kill windows — no entry point may ever observe a
    // missing or mixed partition, and an overwrite after the crash must
    // not leave a parked dir that a later recovery would resurrect into
    // the fresh table
    def seeded(): (TableStore, String) = {
      val root = Files.createTempDirectory("graft_chaos_part").toString
      val store = new TableStore(spark, root)
      store.replacePartitions("t",
        Seq((1, 1L), (2, 1L), (3, 2L)).toDF("v", "p"), "p")
      (store, root)
    }
    // window 1: live p=2 parked in .old_part, replacement tmp lost —
    // the OLD partition data must come back on any read path
    val (s1, r1) = seeded()
    Files.createDirectories(Paths.get(s"$r1/.old_part/t"))
    Files.move(Paths.get(s"$r1/t/p=2"), Paths.get(s"$r1/.old_part/t/p=2"))
    assert(s1.read("t").select("v").as[Int].collect().toSet == Set(1, 2, 3))
    assert(!Files.exists(Paths.get(s"$r1/.old_part/t/p=2")))
    // window 2: stale .old_part left behind AFTER the new partition
    // landed (killed before cleanup) — the NEW data must win, the stale
    // dir must be dropped, not restored over it
    val (s2, r2) = seeded()
    Seq((3, 2L)).toDF("v", "p").coalesce(1)
      .write.parquet(s"$r2/.old_part/t/p=2")
    s2.replacePartitions("t", Seq((30, 2L)).toDF("v", "p"), "p")
    assert(s2.read("t").select("v").as[Int].collect().toSet == Set(1, 2, 30))
    assert(!Files.exists(Paths.get(s"$r2/.old_part/t/p=2")))
    // window 1 followed by a FULL overwrite: the parked partition must
    // not survive to be "restored" into the brand-new table later
    val (s3, r3) = seeded()
    Files.createDirectories(Paths.get(s"$r3/.old_part/t"))
    Files.move(Paths.get(s"$r3/t/p=2"), Paths.get(s"$r3/.old_part/t/p=2"))
    s3.overwrite("t", Seq((100, 9L)).toDF("v", "p"), Seq("p"))
    assert(s3.read("t").select("v").as[Int].collect().toSet == Set(100))
    assert(!Files.exists(Paths.get(s"$r3/.old_part/t/p=2")))
    // window 1 followed by the NEXT replacePartitions call (the streaming
    // fold's path): recovery runs before the new batch is planned, so the
    // fold sees the full pre-crash state and the new partition lands
    val (s4, r4) = seeded()
    Files.createDirectories(Paths.get(s"$r4/.old_part/t"))
    Files.move(Paths.get(s"$r4/t/p=2"), Paths.get(s"$r4/.old_part/t/p=2"))
    s4.replacePartitions("t", Seq((99, 3L)).toDF("v", "p"), "p")
    assert(s4.read("t").select("v").as[Int].collect().toSet == Set(1, 2, 3, 99))
  }

  test("park recovery never crosses tables whose names extend each other") {
    // 't' and 't_log' both partition-replaced; 't_log' crashes mid-swap
    // (its p=1 sits parked). Recovery of 't' must NOT adopt 't_log's
    // parked partition — under the old shared-prefix park scheme
    // (`.old_part_<t>_...`) it did, because '_' both separated the name
    // and occurred inside it.
    val root = Files.createTempDirectory("graft_park_collide").toString
    val store = new TableStore(spark, root)
    store.replacePartitions("t", Seq((1, 1L)).toDF("v", "p"), "p")
    store.replacePartitions("t_log", Seq((7, 1L)).toDF("v", "p"), "p")
    Files.createDirectories(Paths.get(s"$root/.old_part/t_log"))
    Files.move(Paths.get(s"$root/t_log/p=1"),
      Paths.get(s"$root/.old_part/t_log/p=1"))
    // reading 't' sweeps only 't's park dir; 't_log's park stays put
    assert(store.read("t").select("v").as[Int].collect().toSet == Set(1))
    assert(Files.exists(Paths.get(s"$root/.old_part/t_log/p=1")))
    // and 't_log's own recovery restores it
    assert(store.read("t_log").select("v").as[Int].collect().toSet == Set(7))
    assert(!Files.exists(Paths.get(s"$root/.old_part/t_log")))
  }

  test("first-ever write that crashed mid-write stays unpublished") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    // a partial tmp with no parked dirs proves nothing about completeness
    Seq(1).toDF("v").write.parquet(s"$root/.tmp_t")
    assert(!store.exists("t"))
  }

  test("append accumulates; partitioned append lays out partition dirs") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    store.append("p", Seq((1, 2020), (2, 2021)).toDF("v", "yr"), Seq("yr"))
    store.append("p", Seq((3, 2021)).toDF("v", "yr"), Seq("yr"))
    assert(store.read("p").count() == 3)
    assert(Files.exists(Paths.get(s"$root/p/yr=2021")))
    assert(store.read("p").filter(col("yr") === 2021).count() == 2)
  }

  test("compact collapses many small append files without changing content") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    (0 until 6).foreach(b =>
      store.append("c", Seq(b * 2, b * 2 + 1).toDF("v").repartition(2)))
    assert(store.dataFileCount("c") >= 6, "fixture must start fragmented")
    val before = store.read("c").as[Int].collect().sorted.toSeq

    store.compact("c", targetRowsPerFile = 100)
    assert(store.dataFileCount("c") == 1, "12 rows fit one 100-row file")
    assert(store.read("c").as[Int].collect().sorted.toSeq == before)
  }

  test("clustered layout lets row-group stats skip most of a selective scan") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    // shuffled key order: every file covers the full key range
    val rows = spark.range(200000).toDF("i")
      .select((col("i") * 48271 % 200000).as("k"), col("i").as("v"))
    store.overwrite("plain", rows.repartition(8))
    store.overwriteClustered("clustered", rows, Seq("k"), nFiles = 8)

    def scannedRows(table: String): Long = {
      val q = store.read(table).filter(col("k") === 123L)
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scan = plan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      scan.metrics("numOutputRows").value
    }

    val plain = scannedRows("plain")
    val clustered = scannedRows("clustered")
    assert(plain == 200000, s"unclustered scan must decode everything ($plain)")
    assert(clustered * 4 <= plain,
      s"row-group skip ineffective: clustered=$clustered plain=$plain")
  }

  // --- Manifest commit mode -----------------------------------------------

  private def manifestStore(): (TableStore, String) = {
    val root = Files.createTempDirectory("graft_manifest").toString
    (new TableStore(spark, root, TableStore.ManifestCommit), root)
  }

  test("manifest mode: overwrite/append/partitioned read behave as rename mode") {
    val (store, root) = manifestStore()
    assert(!store.exists("t"))
    store.overwrite("t", Seq(1, 2, 3).toDF("v"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    store.overwrite("t", Seq(10, 20).toDF("v"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(10, 20))
    store.append("t", Seq(30).toDF("v"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    // partition columns are discovered natively relative to each data dir
    store.append("p", Seq((1, 2020), (2, 2021)).toDF("v", "yr"), Seq("yr"))
    store.append("p", Seq((3, 2021)).toDF("v", "yr"), Seq("yr"))
    assert(store.read("p").filter(col("yr") === 2021)
      .select("v").as[Int].collect().toSet == Set(2, 3))
    // no live directory ever exists — data only under .data/, pointer
    // only under .manifests/
    assert(!Files.exists(Paths.get(s"$root/t")))
    assert(Files.exists(Paths.get(s"$root/.manifests/t")))
  }

  test("manifest mode: versioned overwrite time-travels, prunes, rolls back") {
    val (store, _) = manifestStore()
    assert(store.overwriteVersioned("t", Seq(1).toDF("v")) == 0L)
    assert(store.overwriteVersioned("t", Seq(2).toDF("v")) == 1L)
    assert(store.overwriteVersioned("t", Seq(3).toDF("v")) == 2L)
    assert(store.versions("t") == Seq(1L, 2L))
    assert(store.read("t").as[Int].head() == 3)
    assert(store.readVersion("t", 1).as[Int].head() == 1)
    assert(store.readVersion("t", 2).as[Int].head() == 2)
    // rollback publishes one more manifest pointing at v1's entries; the
    // displaced current stays readable as its own id
    val displaced = store.rollback("t", 1)
    assert(store.read("t").as[Int].head() == 1)
    assert(store.readVersion("t", displaced).as[Int].head() == 3)
    // retention: keep=2 prunes older manifests AND their orphaned data
    store.overwriteVersioned("t", Seq(4).toDF("v"), keep = 2)
    assert(store.versions("t").size == 2)
    intercept[IllegalArgumentException](store.readVersion("t", 1))
  }

  test("manifest mode: replacePartitions rebinds atomically in one manifest") {
    val (store, root) = manifestStore()
    store.replacePartitions("t",
      Seq((1, 1L), (2, 1L), (3, 2L)).toDF("v", "p"), "p")
    assert(store.read("t").select("v").as[Int].collect().toSet == Set(1, 2, 3))
    // replacing two partitions = ONE new manifest (atomic as a unit),
    // Include entries rebound
    val before = Files.list(Paths.get(s"$root/.manifests/t")).count()
    store.replacePartitions("t",
      Seq((10, 1L), (30, 2L), (40, 4L)).toDF("v", "p"), "p")
    val after = Files.list(Paths.get(s"$root/.manifests/t")).count()
    assert(store.read("t").select("v").as[Int].collect().toSet == Set(10, 30, 40))
    assert(after - before <= 1, "multi-partition replace must publish once")
    // replacement over a WHOLE-DIR entry (from append) takes the
    // exclusion path: untouched partitions keep reading the appended dir
    store.append("u", Seq((1, 1L), (2, 2L)).toDF("v", "p"), Seq("p"))
    store.replacePartitions("u", Seq((20, 2L)).toDF("v", "p"), "p")
    assert(store.read("u").select("v").as[Int].collect().toSet == Set(1, 20))
    assert(store.lastAppliedBatch("u", "p") == 2L)
  }

  test("manifest mode chaos: a crash before the pointer lands publishes nothing") {
    val (store, root) = manifestStore()
    store.overwrite("t", Seq(1, 2).toDF("v"))
    // a writer that died after finishing its data dir but before moving
    // the manifest file: data present, pointer absent
    Seq(99).toDF("v").write.parquet(s"$root/.data/t/w_orphan_crashed")
    Files.writeString(Paths.get(s"$root/.manifests/t/.tmp_m2"), "keep=0\nw_orphan_crashed\t-\t*\t")
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(1, 2),
      "readers must keep resolving the old manifest")
    // the next committed write garbage-collects the orphan dir
    store.overwrite("t", Seq(7).toDF("v"))
    assert(!Files.exists(Paths.get(s"$root/.data/t/w_orphan_crashed")))
    assert(store.read("t").as[Int].head() == 7)
  }

  test("manifest mode chaos: a crash after the pointer lands loses nothing to GC") {
    val (store, root) = manifestStore()
    store.overwrite("t", Seq(1).toDF("v"))
    store.overwrite("t", Seq(2).toDF("v"))
    // GC runs strictly after the publish, so the worst crash leaves
    // stale manifests + their dirs — readers already see the new state,
    // and any later write re-runs the sweep. Simulate the leftovers:
    Seq(0).toDF("v").write.parquet(s"$root/.data/t/w_stale_dir")
    assert(store.read("t").as[Int].head() == 2)
    store.append("t", Seq(3).toDF("v"))
    assert(!Files.exists(Paths.get(s"$root/.data/t/w_stale_dir")))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("manifest mode: streaming-fold shape (replacePartitions + lastAppliedBatch + filtered reads)") {
    // the exact access pattern every streaming maintainer uses, driven
    // against the object-store-safe protocol: per-batch __applied
    // partition appends with replay guards and history-filtered reads
    val (store, _) = manifestStore()
    def fold(rows: Seq[(Long, Long)], batch: Long): Unit = {
      if (batch > store.lastAppliedBatch("log")) {
        val history =
          if (store.exists("log"))
            store.read("log").filter(col("__applied") < batch).count()
          else 0L
        assert(history == rows.head._2, "fold must see exactly prior batches")
        store.replacePartitions("log",
          rows.toDF("k", "n").withColumn("__applied", lit(batch)), "__applied")
      }
    }
    fold(Seq((1L, 0L), (2L, 0L)), 0L)
    fold(Seq((3L, 2L)), 1L)
    fold(Seq((3L, 2L)), 1L) // replay: replaces its own partition, no dup
    fold(Seq((4L, 3L)), 2L)
    assert(store.lastAppliedBatch("log") == 2L)
    assert(store.read("log").select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("manifest mode: empty writes land nothing (never an uninferable dir)") {
    val (store, _) = manifestStore()
    val empty = Seq.empty[(Int, Long)].toDF("v", "p")
    store.replacePartitions("e", empty, "p")
    assert(!store.exists("e"))
    store.append("e", empty, Seq("p"))
    assert(!store.exists("e"))
    store.overwrite("e", empty, Seq("p"))
    assert(!store.exists("e"))
    store.replacePartitions("e", Seq((1, 1L)).toDF("v", "p"), "p")
    store.append("e", empty, Seq("p")) // empty append must not disturb state
    assert(store.read("e").select("v").as[Int].collect().toSeq == Seq(1))
    // an overwrite that empties an EXISTING table reads as nonexistent
    store.overwrite("e", empty, Seq("p"))
    assert(!store.exists("e"))
  }

  test("manifest mode: special-char partition values bind; mixed columns refuse") {
    val (store, _) = manifestStore()
    // values with ':' and ' ' are Hive-escaped in dir names; the manifest
    // must bind the UNESCAPED value or the replacement becomes invisible
    store.replacePartitions("s",
      Seq(("a", "x y:z"), ("b", "plain")).toDF("v", "p"), "p")
    assert(store.read("s").select("v").as[String].collect().toSet == Set("a", "b"))
    store.replacePartitions("s", Seq(("A", "x y:z")).toDF("v", "p"), "p")
    assert(store.read("s").select("v").as[String].collect().toSet == Set("A", "b"))
    // a second partition column on the same table: defined refusal, not
    // silent binding corruption
    intercept[IllegalArgumentException](
      store.replacePartitions("s", Seq(("c", "q1")).toDF("v", "q"), "q"))
    // null partition values cannot be excluded later: defined refusal
    intercept[IllegalArgumentException](
      store.replacePartitions("n",
        Seq((1, Option.empty[String]), (2, Some("ok"))).toDF("v", "p"), "p"))
  }

  test("manifest mode: compact folds N append entries into one data dir") {
    val (store, root) = manifestStore()
    (1 to 5).foreach(i => store.append("t", Seq(i).toDF("v")))
    def dataDirs = Files.list(Paths.get(s"$root/.data/t")).count()
    assert(dataDirs == 5, "one uuid dir per append")
    store.compact("t", targetRowsPerFile = 100)
    // the compacted manifest references ONE dir; GC (keep=0) drops the
    // five append dirs it no longer references
    assert(dataDirs == 1, "compact must fold entries and GC old dirs")
    assert(store.read("t").as[Int].collect().sorted.toSeq == (1 to 5))
  }

  test("manifest mode: schema-evolved append stays readable; current id is no snapshot") {
    val (store, _) = manifestStore()
    store.append("t", Seq(1).toDF("v"))
    store.append("t", Seq((2, "x")).toDF("v", "tag"))
    val got = store.read("t").orderBy("v").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(got(0).isNullAt(1) && got(1).getString(1) == "x")
    // the current manifest is the live table, not a snapshot
    store.overwriteVersioned("w", Seq(1).toDF("v"))
    intercept[IllegalArgumentException](store.readVersion("w", 1))
    store.overwriteVersioned("w", Seq(2).toDF("v"))
    assert(store.readVersion("w", 1).as[Int].head() == 1)
    intercept[IllegalArgumentException](store.readVersion("w", 2))
  }

  // --- Schema reuse ---------------------------------------------------------

  test("schema reuse: every table runAll writes reads with the inferred schema") {
    val root = Files.createTempDirectory("graft_reuse").toString
    val runner = new graft.pipeline.Runner(spark, sfDir, root)
    runner.runAll(1, java.sql.Date.valueOf("2024-01-01"))
    val tables = Files.list(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted.toSeq
    assert(tables.size == 22, s"runAll tables: $tables") // 21 warehouse tables + log_table
    tables.foreach { t =>
      val (df, jobs) = Jobs.during(spark)(runner.table(t))
      val inferred = spark.read.parquet(s"$root/$t")
      assert(df.schema == inferred.schema, t)
      assert(df.count() == inferred.count(), t)
      // the partitioned fact infers; every other table reuses its schema
      assert(jobs.isEmpty == (t != "fct_orders"), s"$t: ${jobs.size} jobs")
    }
  }

  test("schema reuse: another instance's write on the same root is read afresh") {
    val root = Files.createTempDirectory("graft_reuse").toString
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    a.overwrite("t", Seq(1, 2).toDF("v"))
    assert(Jobs.count(spark)(a.read("t")) == 0)
    b.overwrite("t", Seq(("x", 7L)).toDF("name", "n"))
    val got = a.read("t")
    assert(got.schema.fieldNames.toSeq == Seq("name", "n"))
    assert(got.as[(String, Long)].collect().toSeq == Seq(("x", 7L)))
    // an append by the other instance also drops the record: the table
    // now holds files this instance did not write
    a.overwrite("u", Seq(1).toDF("v"))
    b.append("u", Seq(2).toDF("v"))
    assert(Jobs.count(spark)(a.read("u")) > 0)
    assert(a.read("u").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // a same-schema append by the owner keeps reusing; a schema change infers
    a.append("u2", Seq(1).toDF("v"))
    a.append("u2", Seq(2).toDF("v"))
    assert(Jobs.count(spark)(a.read("u2")) == 0)
    a.append("u2", Seq(3L).toDF("v"))
    assert(Jobs.count(spark)(a.read("u2")) > 0)
  }

  test("schema reuse: partitioned and manifest-mode tables still infer") {
    val root = Files.createTempDirectory("graft_reuse").toString
    val store = new TableStore(spark, root)
    store.overwrite("p", Seq((1, 2020), (2, 2021)).toDF("v", "yr"), Seq("yr"))
    store.append("q", Seq((1, 2020)).toDF("v", "yr"), Seq("yr"))
    assert(Jobs.count(spark)(store.read("p")) > 0)
    assert(Jobs.count(spark)(store.read("q")) > 0)
    val (m, _) = manifestStore()
    m.overwrite("t", Seq(1).toDF("v"))
    assert(Jobs.count(spark)(m.read("t")) > 0)
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
  private def lit(v: Any) = org.apache.spark.sql.functions.lit(v)
}
