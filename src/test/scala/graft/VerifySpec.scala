package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must show up in `verify_manifest.json`, not only
  * as a missing result directory.
  */
class VerifySpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("manifest records rows for an ok query and class + message for a failed one") {
    val ok = mapper.readTree(Verify.manifestRecord(1.23456, Right(42L)))
    assert(ok.get("status").asText == "ok")
    assert(ok.get("rows").asLong == 42L)
    assert(ok.get("seconds").asDouble == 1.235)
    assert(!ok.has("error_class"))

    val msg = "bad \"plan\"\n\tline 2"
    val failed = mapper.readTree(Verify.manifestRecord(0.5,
      Left(new IllegalStateException(msg))))
    assert(failed.get("status").asText == "failed")
    assert(failed.get("rows").isNull)
    assert(failed.get("error_class").asText == "java.lang.IllegalStateException")
    assert(failed.get("error_message").asText == msg)
  }
}
