package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.TableStore
import graft.streaming.{Maintain, StreamSketch}

/** Streaming heavy-hitter maintenance: the per-batch CMS increment log
  * must sum to the one-shot corpus sketch (linearity), the k-row
  * candidate table must surface the true heavy keys, writes are
  * O(sketch) per batch, and replay/crash recovery are idempotent.
  */
class StreamHeavyHittersSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val K = 5
  private val DEPTH = 4
  private val WIDTH = 256

  /** Skewed key stream: three hot keys (50/40/30 arrivals), five warm
    * (10 each), thirty singletons; row index spreads every key across
    * the %3 batches.
    */
  private def arrivals = {
    val rows =
      (0 until 50).map(i => (i, "hot1")) ++
        (0 until 40).map(i => (50 + i, "hot2")) ++
        (0 until 30).map(i => (90 + i, "hot3")) ++
        (0 until 5).flatMap(w => (0 until 10).map(i => (120 + w * 10 + i, s"warm$w"))) ++
        (0 until 30).map(i => (170 + i, s"tail$i"))
    rows.toDF("idx", "key")
  }

  private def fold(store: TableStore) =
    StreamSketch.applyHeavyHitters(store, "cms", "top", "key", K, DEPTH, WIDTH) _

  private def foldAll(store: TableStore): Unit =
    (0 to 2).foreach(i => fold(store)(arrivals.filter(col("idx") % 3 === i), i.toLong))

  test("increment log sums to the one-shot sketch; candidates surface the true heavies") {
    val store = new TableStore(s, Files.createTempDirectory("graft_shh").toString)
    foldAll(store)

    val foldedSum = store.read("cms").drop("__applied")
      .groupBy(col("r"), col("bucket")).agg(sum(col("n")).cast("long").as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = Sketches.countMin(arrivals.select(col("key")), "key", DEPTH, WIDTH)
      .as[(Long, Long, Long)].collect().toSet
    assert(foldedSum == oneShot, "CMS linearity across batch folds broke")

    val top = store.read("top").orderBy(col("cms_n").desc, col("key"))
      .as[(String, Long)].collect().toSeq
    assert(top.size == K)
    assert(top.head._1 == "hot1" && top.head._2 >= 50L)
    assert(Set("hot1", "hot2", "hot3").subsetOf(top.map(_._1).toSet))
    // CMS estimates dominate true counts
    val trueCounts = Map("hot1" -> 50L, "hot2" -> 40L, "hot3" -> 30L)
    top.foreach { case (k, n) =>
      trueCounts.get(k).foreach(t => assert(n >= t, s"$k estimated $n < true $t"))
    }
    // per-batch write volume is O(sketch): each partition ≤ depth×width rows
    store.read("cms").groupBy(col("__applied")).count()
      .as[(Long, Long)].collect().foreach { case (b, n) =>
        assert(n <= DEPTH * WIDTH, s"batch $b wrote $n rows > sketch bound")
      }
  }

  test("replaying an applied batch is a no-op") {
    val store = new TableStore(s, Files.createTempDirectory("graft_shh").toString)
    foldAll(store)
    val cms = store.read("cms").collect().toSet
    val top = store.read("top").collect().toSet
    fold(store)(arrivals.filter(col("idx") % 3 === 1), 1L)
    assert(store.read("cms").collect().toSet == cms)
    assert(store.read("top").collect().toSet == top)
  }

  test("crash after the candidate commit, before the sketch commit, recovers on re-fold") {
    val store = new TableStore(s, Files.createTempDirectory("graft_shh").toString)
    val clean = new TableStore(s, Files.createTempDirectory("graft_shh_c").toString)
    foldAll(clean)
    (0 to 1).foreach(i => fold(store)(arrivals.filter(col("idx") % 3 === i), i.toLong))
    fold(store)(arrivals.filter(col("idx") % 3 === 2), 2L)
    // simulate the crash: batch 2's candidate overwrite landed but its
    // sketch partition and its marker did not
    FoldCrash.beforePartition(store, "cms", 2L)
    fold(store)(arrivals.filter(col("idx") % 3 === 2), 2L) // at-least-once replay
    assert(store.read("cms").collect().toSet == clean.read("cms").collect().toSet)
    assert(store.read("top").collect().toSet == clean.read("top").collect().toSet)
  }

  test("a real AvailableNow stream reaches the same store state, across a restart") {
    val srcDir = Files.createTempDirectory("graft_shh_src").toString
    val ckptDir = Files.createTempDirectory("graft_shh_ckpt").toString
    val store = new TableStore(s, Files.createTempDirectory("graft_shh2").toString)
    val batchFolded = new TableStore(s, Files.createTempDirectory("graft_shh3").toString)
    foldAll(batchFolded)
    def run(): Unit = {
      val stream = s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      Maintain(stream, ckptDir)(fold(store)).start().awaitTermination()
    }
    (0 to 1).foreach { i =>
      arrivals.filter(col("idx") % 3 === i).coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    run()
    arrivals.filter(col("idx") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(srcDir)
    run() // restart from the same checkpoint: durable ids keep the guard monotonic
    val streamedSum = store.read("cms").drop("__applied")
      .groupBy(col("r"), col("bucket")).agg(sum(col("n")).cast("long").as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val directSum = batchFolded.read("cms").drop("__applied")
      .groupBy(col("r"), col("bucket")).agg(sum(col("n")).cast("long").as("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamedSum == directSum)
    assert(store.read("top").collect().toSet ==
      batchFolded.read("top").collect().toSet)
  }
}
