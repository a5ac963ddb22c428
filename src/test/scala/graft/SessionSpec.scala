package graft

/** The specs check the plans the bench runs: their session is built from
  * [[Session.builder]] and carries every setting it makes.
  */
class SessionSpec extends SparkSpec {
  test("the specs' session carries every conf Session sets, with the same value") {
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
    Session.settings(SparkSpec.cpus).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v),
        s"$k is ${spark.conf.getOption(k)}; Session sets $v")
    }
  }
}
