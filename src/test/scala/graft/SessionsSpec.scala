package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Sessions.withConf` puts every key back as it found it — a key that
  * was set gets its old value, a key that was not is unset again (not
  * set to its default) — whether the body returns or throws. */
class SessionsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("withConf unsets a key that was not set and restores one that was, also when the body throws") {
    val push = "spark.sql.parquet.aggregatePushdown" // registered, default false
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val s = spark.newSession()
    s.conf.set(bcast, "1234")
    def untouched(when: String): Unit = {
      assert(s.conf.getAll.get(push) === None, s"$when: an unset key must not come back set to its default")
      assert(s.conf.get(bcast) === "1234", s"$when: a set key must get its old value back")
    }
    untouched("before")
    val seen = Sessions.withConf(s, push -> "true", bcast -> "-1")((s.conf.get(push), s.conf.get(bcast)))
    assert(seen === (("true", "-1")))
    untouched("after a normal return")
    val e = intercept[IllegalStateException] {
      Sessions.withConf(s, push -> "true", bcast -> "-1")(throw new IllegalStateException("body"))
    }
    assert(e.getMessage === "body")
    untouched("after the body threw")
  }
}
