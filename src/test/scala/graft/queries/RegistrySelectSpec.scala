package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `Registry.select`, the focus-list rule Bench (SPARK_GRAFT_ONLY) and
  * Verify (third argument) share.
  */
class RegistrySelectSpec extends AnyFunSuite {
  private def names(list: String) = Registry.select(Some(list)).map(_.name)

  test("no list selects the whole registry") {
    assert(Registry.select(None).map(_.name) == Registry.all.map(_.name))
  }

  test("a short id selects its query") {
    assert(names("xs8") == Seq("xs8_hybrid_rrf"))
  }

  test("a full name selects its query, mixed with a short id") {
    assert(names("q01_scan_project, xs8").toSet ==
      Set("q01_scan_project", "xs8_hybrid_rrf"))
  }

  test("an unknown entry fails") {
    val e = intercept[IllegalArgumentException](names("nosuch"))
    assert(e.getMessage.contains("nosuch"))
  }

  test("a typo beside a valid entry fails instead of selecting a subset") {
    val e = intercept[IllegalArgumentException](names("q01,q01_scan_projekt"))
    assert(e.getMessage.endsWith("match no query: q01_scan_projekt"))
  }
}
