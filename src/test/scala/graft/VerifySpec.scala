package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("jsonString escapes quotes, backslashes and control chars; Jackson reads it back") {
    val s = "say \"hi\" \\ path\nline\rcr\ttab\u0001soh é"
    val quoted = Verify.jsonString(s)
    assert(!quoted.exists(c => c < ' '))
    assert(new ObjectMapper().readValue(quoted, classOf[String]) == s)
  }
}
