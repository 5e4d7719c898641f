package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Profile`'s positional `-o` parse. */
class ProfileSpec extends AnyFunSuite {

  test("-o consumes exactly the next token") {
    assert(Profile.parse(Seq("q1", "-o", "plans", "q2")) ==
      ((Some("plans"), Seq("q1", "q2"))))
    assert(Profile.parse(Seq("-o", "plans", "q1")) == ((Some("plans"), Seq("q1"))))
    assert(Profile.parse(Seq("q1", "q2")) == ((None, Seq("q1", "q2"))))
  }

  test("a query name equal to the directory string is kept") {
    assert(Profile.parse(Seq("q1", "-o", "q1", "q1")) ==
      ((Some("q1"), Seq("q1", "q1"))))
  }

  test("a trailing -o throws") {
    val e = intercept[IllegalArgumentException](Profile.parse(Seq("q1", "-o")))
    assert(e.getMessage.contains("-o requires a directory"))
  }
}
