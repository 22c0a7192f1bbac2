package graft

/** [[Confs.withConfs]] restores the session's confs when its body
  * throws: a key that was set gets its value back, a key that was
  * unset is unset again (it keeps following its default).
  */
class ConfsSpec extends SparkSpec {

  private class Boom extends RuntimeException("boom")

  test("a body that throws leaves a set key restored and an unset key unset") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.sql.files.maxRecordsPerFile"
    val conf = spark.sessionState.conf
    val before = spark.conf.get(setKey)
    assert(conf.contains(setKey), s"$setKey must be set by the session")
    assert(!conf.contains(unsetKey), s"$unsetKey must start unset")
    intercept[Boom] {
      Confs.withConfs(spark, Seq(setKey -> "7", unsetKey -> "123")) {
        assert(spark.conf.get(setKey) == "7")
        assert(spark.conf.get(unsetKey) == "123")
        throw new Boom
      }
    }
    assert(spark.conf.get(setKey) == before)
    assert(!conf.contains(unsetKey))
  }
}
