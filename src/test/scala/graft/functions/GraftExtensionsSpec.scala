package graft.functions

import graft.SparkSpec

/** The injection path: [[graft.GraftSession]] installs
  * [[GraftExtensions]] on the builder, so every session it makes — and
  * every session forked from one — resolves graft's SQL functions with
  * no `GraftFunctions.register` call. */
class GraftExtensionsSpec extends SparkSpec {

  test("a forked session resolves every native SQL function through the extensions") {
    // newSession() starts from a fresh function registry and re-applies
    // only the session's extensions, so nothing registered at runtime on
    // the shared test session can leak into it
    val fresh = spark.newSession()
    val calls = Map(
      "minhash_sig" -> "minhash_sig('abcdefghij', 4, 5)",
      "md5_minhash_sig" -> "md5_minhash_sig('abcdefghij', 4, 5)",
      "dot_q30" -> "dot_q30(array(1.0f, 2.0f), array(3.0f, 4.0f))",
      "py_literal_list" -> "py_literal_list(\"['a', 'b']\")",
      "nfc_normalize" -> "nfc_normalize('abc')",
      "hashed_quality_score" -> "hashed_quality_score('abc def')")
    assert(calls.keySet == GraftFunctions.descriptors.map(_._1.funcName).toSet,
      "every registered SQL function needs a call here")
    calls.foreach { case (name, call) =>
      val r = fresh.sql(s"SELECT $call AS v").collect()
      assert(r.length == 1 && !r.head.isNullAt(0), s"$name returned $r")
    }
  }
}
