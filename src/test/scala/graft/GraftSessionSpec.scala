package graft

import org.scalatest.funsuite.AnyFunSuite

/** The diagnostic conf knobs (`SPARK_GRAFT_PROF_CONFS`,
  * `SPARK_GRAFT_STREAM_CONFS`) parse strictly. */
class GraftSessionSpec extends AnyFunSuite {

  test("conf env values parse as k=v;k2=v2 and a malformed entry fails by name") {
    assert(GraftSession.parseConfs("V", "") == Map.empty)
    assert(GraftSession.parseConfs("V", "a=1;b=x=y;") == Map("a" -> "1", "b" -> "x=y"))
    for (bad <- Seq("oops", "=1")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseConfs("SPARK_GRAFT_STREAM_CONFS", s"a=1;$bad"))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_CONFS"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
