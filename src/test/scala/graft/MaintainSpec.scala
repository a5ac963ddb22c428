package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.sources.TableStore
import graft.streaming.{Maintain, StreamSkyline}

/** The one replay guard of the streaming folds: a batch runs once, above
  * the committed marker, and commits only after its body returned.
  */
class MaintainSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def store() =
    new TableStore(s, Files.createTempDirectory("graft_once").toString)

  test("the body runs only above the marker, and gets the committed id") {
    val st = store()
    val seen = ArrayBuffer.empty[(Long, Long)]
    def fold(b: Long): Unit = Maintain.once(st, "t", b)(c => seen += ((b, c)))
    Seq(0L, 0L, 2L, 1L, 2L, 3L).foreach(fold)
    assert(seen.toSeq == Seq((0L, -1L), (2L, 0L), (3L, 2L)))
    assert(Maintain.committed(st, "t") == 3L)
    assert(Maintain.committed(st, "other") == -1L, "markers are per table")
  }

  test("a body that throws leaves the marker where it was") {
    val st = store()
    Maintain.once(st, "t", 0L)(_ => ())
    intercept[IllegalStateException] {
      Maintain.once(st, "t", 1L)(_ => throw new IllegalStateException("crash"))
    }
    assert(Maintain.committed(st, "t") == 0L)
    var replayed = false
    Maintain.once(st, "t", 1L)(_ => replayed = true)
    assert(replayed && Maintain.committed(st, "t") == 1L)
  }

  test("the marker advances only after the body returns") {
    val st = store()
    Maintain.once(st, "t", 0L)(_ => ())
    var inside = Long.MinValue
    Maintain.once(st, "t", 1L)(_ => inside = Maintain.committed(st, "t"))
    assert(inside == 0L)
    assert(Maintain.committed(st, "t") == 1L)
  }

  test("a skipped batch starts no Spark job") {
    val st = store()
    val points = Seq((1, 3), (2, 2), (3, 1), (1, 1)).toDF("x", "y")
    val fold = StreamSkyline.applyBatch(st, "front", "x", "y") _
    fold(points, 0L)
    assert(Jobs.count(s)(fold(points, 0L)) == 0)
    assert(StreamSkyline.currentFront(st, "front").count() == 3)
  }
}
